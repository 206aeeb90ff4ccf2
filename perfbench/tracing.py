"""Outside-in layer tracing for the benchmark's traced run (--trace 1).

Nothing under esvc_spark/ is edited. Layers are measured from the
benchmark's side only:

* instance methods of the Repl, its Graph and its WorkCache are wrapped
  after construction (`wrap_methods`);
* the engine handed to Repl/WorkCache is a benchmark-side subclass whose
  overrides open spans (`traced_engine_class`);
* store functions that Repl.merge_from imports at call time are wrapped
  on their module for the duration of a run (`patch_module`);
* the WorkCache memo is swapped for a counting mapping (`CountingMemo`).

Every span records (name, start, end, parent, op id) in memory; the span
file is written once at exit. Each span runs under its own Spark job
group, so the jobs a span issued itself are read back from the status
tracker after the listener bus drains.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self.op_id = 0
        self.counters: dict[str, float] = defaultdict(float)

    def reset(self) -> None:
        self.spans.clear()
        self.counters.clear()

    # -- spans -------------------------------------------------------------
    def span(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
        }
        self._stack.append(sp)
        self.sc.setJobGroup(f"pb-{sp['id']}", name)
        sp["start"] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"pb-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[key] += n

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)

        return traced

    def wrap_methods(self, obj, layer: str, names) -> None:
        """Replace bound methods on one instance with traced ones."""
        if not self.enabled:
            return
        for n in names:
            setattr(obj, n, self.wrap(f"{layer}.{n}", getattr(obj, n)))

    def patch_module(self, mod, layer: str, names) -> list:
        """Wrap module-level functions; returns the undo list."""
        undo = []
        if not self.enabled:
            return undo
        for n in names:
            orig = getattr(mod, n)
            undo.append((mod, n, orig))
            setattr(mod, n, self.wrap(f"{layer}.{n}", orig))
        return undo

    @staticmethod
    def unpatch(undo) -> None:
        for mod, n, orig in reversed(undo):
            setattr(mod, n, orig)

    # -- Spark job accounting ----------------------------------------------
    def drain_listener_bus(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs_in_group(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def span_jobs(self) -> dict[int, int]:
        """Jobs each span issued itself (its own job group)."""
        self.drain_listener_bus()
        return {sp["id"]: self.jobs_in_group(f"pb-{sp['id']}") for sp in self.spans}

    # -- summaries ---------------------------------------------------------
    def inclusive_jobs(self) -> dict[int, int]:
        own = self.span_jobs()
        total = dict(own)
        # children end before their parents, so spans are in post-order
        for sp in self.spans:
            if sp["parent"] is not None:
                total[sp["parent"]] = total.get(sp["parent"], 0) + total[sp["id"]]
        return total

    def self_ms_by_layer(self) -> dict[str, float]:
        child_ms: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None:
                child_ms[sp["parent"]] += sp["end"] - sp["start"]
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            layer = sp["name"].split(".", 1)[0]
            out[layer] += (sp["end"] - sp["start"] - child_ms[sp["id"]]) * 1e3
        return out

    def calls(self, name: str) -> list[dict]:
        return [sp for sp in self.spans if sp["name"] == name]

    def mean_ms(self, name: str) -> float:
        got = self.calls(name)
        if not got:
            return 0.0
        return sum(sp["end"] - sp["start"] for sp in got) * 1e3 / len(got)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class CountingMemo:
    """Mapping wrapper around a WorkCache memo (dict or SnapshotStore):
    counts membership probes and hits, and reads through everything
    else. WorkCache.run_deps probes `state in sts` before each replay
    step, so hits / lookups is the memo hit ratio."""

    def __init__(self, inner, tracer: Tracer):
        self.inner = inner
        self.tracer = tracer

    def __contains__(self, st) -> bool:
        hit = st in self.inner
        self.tracer.count("memo.lookups")
        self.tracer.count("memo.hits", hit)
        return hit

    def __getitem__(self, st):
        return self.inner[st]

    def __setitem__(self, st, dat) -> None:
        self.inner[st] = dat

    def pop(self, st):
        return self.inner.pop(st)

    def __iter__(self):
        return iter(self.inner)

    def __getattr__(self, name):
        return getattr(self.inner, name)


def traced_engine_class(base, tracer: Tracer):
    """A subclass of the engine class `base` whose public entry points
    open spans in the `spark_engine` / `store` layers."""

    class Traced(base):
        def run_event_bare(self, cmd, arg, dat):
            return tracer.span(
                "spark_engine.run_event_bare", super().run_event_bare, cmd, arg, dat
            )

        def run_event_transient(self, cmd, arg, dat):
            return tracer.span(
                "spark_engine.run_event_transient",
                super().run_event_transient,
                cmd,
                arg,
                dat,
            )

        def commute_batch(self, ev, tests, cur_st):
            out = tracer.span(
                "spark_engine.commute_batch", super().commute_batch, ev, tests, cur_st
            )
            tracer.count("commute.candidates", len(tests))
            tracer.count("commute.independent", sum(bool(v) for v in out.values()))
            return out

        def save_snapshot(self, dat, path):
            tracer.span("store.save_snapshot", super().save_snapshot, dat, path)
            tracer.count("store.spill_bytes", dir_bytes(path + ".parquet"))

        def load_snapshot(self, path):
            return tracer.span("store.load_snapshot", super().load_snapshot, path)

    Traced.__name__ = "Traced" + base.__name__
    return Traced


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
