"""Per-layer tracing for the traced run (``--trace 1``).

Each layer is a module of the engine. :meth:`Tracer.install` replaces the
layer's public functions (module attributes) with wrappers that record a
span and set a Spark job group for the call, so every Spark job the call
runs is attributed to it. Nested calls get their own group: a layer's
jobs, tasks, executor CPU, shuffle writes and spills are its own, not its
callees'. A lazy function (``melt_table``, ``column_fingerprints``,
``scan_values``, ``to_findings_records``) returns a plan, not a result;
its work runs, and is counted, under the call that executes the plan.

Spans are kept in memory and written, as one JSON line on stderr, when
the run ends. Spark's counters are read from the session's status store
after the listener bus drains, once per pass.
"""

from __future__ import annotations

import functools
import os
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ("session", "cli", "sources.melt", "operators.incremental",
          "operators.findings", "operators.pipeline", "operators.ensemble",
          "sinks.findings_store", "sinks.writeback")
LAYER_METRICS = (("self_s", "s"), ("calls", "count"), ("jobs", "count"),
                 ("tasks", "count"), ("executor_cpu_s", "s"),
                 ("shuffle_write_mb", "MB"), ("spill_mb", "MB"))
COUNTS = (("sources.melt.values", "count"),
          ("operators.incremental.columns", "count"),
          ("operators.incremental.columns_rescanned", "count"),
          ("operators.findings.candidates", "count"),
          ("operators.pipeline.contexts", "count"),
          ("operators.ensemble.predictions", "count"),
          ("operators.ensemble.python_rows", "count"),
          ("sinks.findings_store.files_written", "count"),
          ("sinks.findings_store.mb_written", "MB"),
          ("sinks.writeback.applied", "count"),
          ("sinks.writeback.skipped", "count"),
          ("spark.persisted_rdds_left", "count"),
          ("jvm.gc_s", "s"))

#: layer -> [(module, attribute)] of the public calls wrapped.
WRAPPED = {
    "session": [("catalog_pii_scanner_spark.session", "get_spark")],
    "cli": [("catalog_pii_scanner_spark.cli", "cmd_scan")],
    "sources.melt": [("catalog_pii_scanner_spark.sources.melt",
                      "melt_table")],
    "operators.incremental": [
        ("catalog_pii_scanner_spark.operators.incremental",
         "column_fingerprints")],
    "operators.findings": [
        ("catalog_pii_scanner_spark.operators.findings", "findings_rollup"),
        ("catalog_pii_scanner_spark.operators.findings", "scan_values")],
    "operators.pipeline": [
        ("catalog_pii_scanner_spark.operators.pipeline",
         "full_scan_predictions")],
    "sinks.findings_store": [
        ("catalog_pii_scanner_spark.sinks.findings_store", a)
        for a in ("to_findings_records", "merge_findings",
                  "changed_column_refs", "write_column_fingerprints")],
    "sinks.writeback": [("catalog_pii_scanner_spark.sinks.writeback",
                         "apply_writeback")],
}

#: job group of the tracer's own counting jobs (never attributed)
UNTRACKED = "perfbench-untracked"


def _mb(n: float) -> float:
    return n / (1024.0 * 1024.0)


def files_since(root: str, t0: float) -> tuple[int, int]:
    """(files, bytes) under ``root`` modified at or after ``t0``."""
    n = size = 0
    for d, _, names in os.walk(root):
        for name in names:
            st = os.stat(os.path.join(d, name))
            if st.st_mtime >= t0:
                n += 1
                size += st.st_size
    return n, size


class Tracer:
    """Spans and per-layer counters of one run, bucketed by phase."""

    def __init__(self):
        self.spark = None
        self.phase = "setup"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._groups: list[tuple[str, str, str]] = []  # (gid, layer, phase)
        self._seen_stages: set[int] = set()
        #: phase -> metric -> value
        self.stats: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))

    # -- spans ---------------------------------------------------------------
    def _set_group(self, gid: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if gid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(gid, gid)

    @contextmanager
    def span(self, layer: str, name: str):
        gid = f"perfbench-{len(self.spans)}"
        rec = {"layer": layer, "name": name, "group": gid,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "id": len(self.spans), "phase": self.phase,
               "start": time.perf_counter(), "child_s": 0.0}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(gid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            dur = rec["end"] - rec["start"]
            self._stack.pop()
            if self._stack:
                self._stack[-1]["child_s"] += dur
            self._set_group(self._stack[-1]["group"] if self._stack
                            else None)
            st = self.stats[rec["phase"]]
            st[f"{layer}.self_s"] += dur - rec["child_s"]
            st[f"{layer}.calls"] += 1
            self._groups.append((gid, layer, rec["phase"]))
            if layer == "session" and self.spark is None:
                from pyspark.sql import SparkSession
                self.spark = SparkSession.getActiveSession()

    def count(self, name: str, value: float) -> None:
        self.stats[self.phase][name] += value

    def peak(self, name: str, value: float) -> None:
        st = self.stats[self.phase]
        st[name] = max(st[name], value)

    @contextmanager
    def untracked(self):
        """Run the tracer's own counting work outside every layer: its
        jobs join no layer's group, and its time is no layer's self
        time."""
        self._set_group(UNTRACKED)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self._stack:
                self._stack[-1]["child_s"] += time.perf_counter() - t0
            self._set_group(self._stack[-1]["group"] if self._stack
                            else None)

    # -- wrapping ------------------------------------------------------------
    def install(self, hooks: dict | None = None) -> None:
        """Wrap every call of :data:`WRAPPED`. ``hooks`` maps an
        attribute name to ``after(result, args, kwargs, t0)``, which
        counts the call's work once it returns, untracked."""
        import importlib
        hooks = hooks or {}
        for layer, targets in WRAPPED.items():
            for mod_name, attr in targets:
                mod = importlib.import_module(mod_name)
                self.patch(mod, attr, layer, hooks.get(attr))

    def patch(self, mod, attr: str, layer: str, after=None) -> None:
        """Replace ``mod.attr`` with a spanned wrapper."""
        fn = getattr(mod, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.time()
            with self.span(layer, attr):
                out = fn(*args, **kwargs)
            if after is not None:
                with self.untracked():
                    after(out, args, kwargs, t0)
            return out

        setattr(mod, attr, wrapper)

    def observe(self, mod, attr: str, after) -> None:
        """Count a call's work without a span of its own (internal calls
        of a layer, e.g. the pipeline's model stages)."""
        fn = getattr(mod, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            with self.untracked():
                after(out, args, kwargs, None)
            return out

        setattr(mod, attr, wrapper)

    # -- Spark counters ------------------------------------------------------
    def collect_spark(self) -> None:
        """Attribute the jobs of every finished span group to its layer."""
        if self.spark is None or not self._groups:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for gid, layer, phase in self._groups:
            st = self.stats[phase]
            for jid in tracker.getJobIdsForGroup(gid):
                st[f"{layer}.jobs"] += 1
                stage_ids = store.job(jid).stageIds()
                for i in range(stage_ids.size()):
                    sid = stage_ids.apply(i)
                    if sid in self._seen_stages:
                        continue
                    self._seen_stages.add(sid)
                    try:
                        s = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 - skipped, never run
                        continue
                    if s.status().toString() == "SKIPPED":
                        continue
                    st[f"{layer}.tasks"] += s.numCompleteTasks()
                    st[f"{layer}.executor_cpu_s"] += \
                        s.executorCpuTime() / 1e9
                    st[f"{layer}.shuffle_write_mb"] += \
                        _mb(s.shuffleWriteBytes())
                    st[f"{layer}.spill_mb"] += _mb(
                        s.memoryBytesSpilled() + s.diskBytesSpilled())
        self._groups.clear()

    def per_layer(self, n_warm: int) -> dict[str, dict]:
        """Per-layer metrics: means per warm pass, except ``session.*``
        (set-up totals) and ``spark.persisted_rdds_left`` (most left
        after any pass)."""
        warm, setup = self.stats["warm"], self.stats["setup"]
        out: dict[str, dict] = {}
        for layer in LAYERS:
            for m, unit in LAYER_METRICS:
                key = f"{layer}.{m}"
                v = setup[key] if layer == "session" \
                    else warm[key] / max(n_warm, 1)
                out[key] = {"value": round(v, 6), "unit": unit}
        for key, unit in COUNTS:
            v = (max(self.stats["cold"][key], warm[key])
                 if key == "spark.persisted_rdds_left"
                 else warm[key] / max(n_warm, 1))
            out[key] = {"value": round(v, 6), "unit": unit}
        return out
