"""Span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own files: ``install`` wraps the
public functions of each engine layer module, and the workloads open
spans around the calls they make themselves. Each span gets its own
Spark job group, so every job (and through it every stage and task)
launched while the span is innermost is attributed to it. Spans stay in
memory; ``dump`` writes them out when the run ends.

A span's self time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"
PACKAGE = "dc_moving_violations_cloud_etl_spark"

# engine module -> layer name the spans of its public functions carry
LAYER_MODULES = {
    "catalog": "catalog",
    "etl.violations": "catalog",
    "etl.weather": "catalog",
    "operators.incremental": "incremental",
    "operators.sinks": "sinks",
    "caching": "caching",
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.sc = None
        self.op = "setup"
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": next(self._ids),
            "name": name,
            "layer": name.split(".", 1)[0],
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
            "group": None,
        }
        if self.sc is not None:
            s["group"] = f"perfbench-{s['id']}"
            self.sc.setLocalProperty(GROUP_KEY, s["group"])
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(GROUP_KEY, parent["group"] if parent else None)
            self.spans.append(s)

    def wrap(self, layer: str, fn):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap the public functions of every module in LAYER_MODULES,
        rebinding each in every loaded engine module that imported it by
        name, so callers that resolve it at call time see the wrapper."""
        import importlib

        engine = [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE)]
        for mod_name, layer in LAYER_MODULES.items():
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not callable(fn)
                    or getattr(fn, "__module__", None) != mod.__name__
                    or isinstance(fn, type)
                ):
                    continue
                traced = self.wrap(layer, fn)
                for m in engine + [mod]:
                    if getattr(m, attr, None) is fn:
                        setattr(m, attr, traced)

    def dump(self, path: str, context: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump({"context": context, "spans": rows}, f, indent=1, default=str)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time covered by its direct children
    (children of one span never overlap: the engine calls are sequential
    on one thread)."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def subtree(spans: list[dict], name: str) -> list[dict]:
    """Every span named ``name`` and all of its descendants."""
    ids: set[int] = set()
    out = []
    for s in sorted(spans, key=lambda s: s["start"]):  # parents first
        if s["name"] == name or s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


class JobStats:
    """Per-job-group Spark counters read from the status tracker and the
    application status store over py4j."""

    def __init__(self, sc) -> None:
        self.sc = sc
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = sc.statusTracker()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event of the
        jobs that already returned, so stage metrics are final."""
        self._bus.waitUntilEmpty(60_000)

    def jobs(self, group: str) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> dict:
        seen: set[int] = set()
        out = dict(stages=0, tasks=0, run_ms=0, cpu_ms=0.0,
                   shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0)
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["run_ms"] += st.executorRunTime()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def planning_ms(df) -> dict[str, float]:
    """Catalyst phase durations of ``df``'s QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
