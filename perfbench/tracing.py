"""Traced-run instrumentation: spans around the package's public layer
functions, and Spark status-store deltas per benchmark operation.

Everything here observes the program from outside.  ``Tracer.install``
replaces each named public function with a wrapper in EVERY loaded
package module that bound it (``pipelines/publish.py`` binds
``write_snapshot``, ``compact_table`` and ``notify_if_nonempty`` at
import time, query modules bind ``materialize``), and every registered
query function in the query registry (``publish_daily`` looks its DQ
and mart queries up there), records a span per call and restores the
originals on ``uninstall``.  Spans stay in memory
until the run ends.  ``StatusReader`` reads jobs, stages, tasks,
executor run time, shuffle bytes and spill from the JVM status stores
after each operation, outside the timed region, with the driver JVM's
JIT compile and GC seconds over the operation.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import sys
import time

PKG = "aiesec_guc_spark"

# (module, attribute, span name) — the layer boundaries the benchmark times.
TRACED = [
    ("run", "run_pipeline", "run.run_pipeline"),
    ("run", "scrape_today", "run.scrape_today"),
    ("functions.html_cards", "extract_cards", "functions.html_cards.extract_cards"),
    ("operators.snapshot", "write_snapshot", "operators.snapshot.write_snapshot"),
    ("operators.snapshot", "snapshot_delta", "operators.snapshot.snapshot_delta"),
    ("operators.maintenance", "list_partitions", "operators.maintenance.list_partitions"),
    ("operators.maintenance", "compact_table", "operators.maintenance.compact_table"),
    ("operators.dedup", "materialize", "operators.dedup.materialize"),
    ("sinks.report", "write_styled_report", "sinks.report.write_styled_report"),
    ("sinks.report", "notify_if_nonempty", "sinks.report.notify_if_nonempty"),
    ("sinks.xlsxlite", "write_xlsx", "sinks.xlsxlite.write_xlsx"),
    ("pipelines.publish", "publish_daily", "pipelines.publish.publish_daily"),
]


class Tracer:
    """In-memory span recorder: ``{name, start, end, parent, op_id}``."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op_id: str | None = None
        self.overhead_s = 0.0

    def span(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span; returns (result, span dict)."""
        t_in = time.perf_counter()
        rec = {"name": name, "start": 0.0, "end": 0.0,
               "parent": self._stack[-1] if self._stack else None,
               "op_id": self.op_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            return fn(*args, **kwargs), rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out, rec = tracer.span(name, fn, *args, **kwargs)
            _annotate(name, rec, out, args)
            return out

        return wrapper

    def install(self) -> None:
        import importlib

        mods = [importlib.import_module(f"{PKG}.{m}") for m, _, _ in TRACED]
        for mod, (_, attr, span_name) in zip(mods, TRACED):
            original = getattr(mod, attr)
            wrapper = self._wrap(span_name, original)
            for m in [m for k, m in sys.modules.items() if k == PKG or k.startswith(PKG + ".")]:
                if m is not None and getattr(m, attr, None) is original:
                    setattr(m, attr, wrapper)
                    self._patched.append((m, attr, original))
        queries = importlib.import_module(f"{PKG}.queries")
        table = queries._REGISTRY
        for name, q in queries.registry().items():
            module = q.fn.__module__.rsplit(".", 1)[-1]
            table[name] = dataclasses.replace(q, fn=self._wrap(f"queries.{module}", q.fn))
            self._patched.append((table, name, q))

    def uninstall(self) -> None:
        for target, key, original in reversed(self._patched):
            if isinstance(target, dict):
                target[key] = original
            else:
                setattr(target, key, original)
        self._patched.clear()

    def self_seconds(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals
        (children of one parent never overlap: calls are synchronous)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def dump(self, path: str) -> None:
        selfs = self.self_seconds()
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({**s, "self_s": st}) + "\n")


def _annotate(name: str, rec: dict, out, args: tuple) -> None:
    """Counts recorded at the boundary where the work happens."""
    if name == "operators.maintenance.list_partitions":
        rec["partitions"] = len(out)
    elif name == "operators.maintenance.compact_table":
        rec["files_before"] = out["before"]["n_files"]
        rec["files_after"] = out["after"]["n_files"]
    elif name == "sinks.xlsxlite.write_xlsx":
        rec["bytes"] = os.path.getsize(out)
        rec["rows"] = len(args[2])  # write_xlsx(path, columns, rows, ...)


class StatusReader:
    """Per-operation deltas from Spark's status stores.

    Each traced operation runs under its own job group; afterwards the
    reader drains the listener bus and sums the group's jobs, their
    stages (skipped ones excluded) and the stages' task metrics.  SQL
    executions are counted as the growth of the SQL status store.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._n_sql = self._sql_store.executionsCount()
        jvm = spark._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        self._mx = jvm.java.lang.management.ManagementFactory
        self._jvm0 = (0.0, 0.0)

    def _jvm_times(self) -> tuple[float, float]:
        """(JIT compile seconds, GC seconds) of the driver JVM so far."""
        gcs = self._mx.getGarbageCollectorMXBeans()
        gc_ms = sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))
        return self._mx.getCompilationMXBean().getTotalCompilationTime() / 1000.0, gc_ms / 1000.0

    def begin(self, op_id: str) -> None:
        self._sc.setJobGroup(op_id, op_id)
        self._n_sql = self._sql_store.executionsCount()
        self._jvm0 = self._jvm_times()

    def end(self, op_id: str, scan_tasks_of: int | None = None) -> dict:
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        store = self._jsc.statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "scan_tasks": 0}
        job_ids = list(self._sc.statusTracker().getJobIdsForGroup(op_id))
        out["jobs"] = len(job_ids)
        seen = set()
        for j in job_ids:
            for sid in self._sc.statusTracker().getJobInfo(j).stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numTasks()
                    out["task_s"] += sd.executorRunTime() / 1000.0
                    out["shuffle_read_bytes"] += (
                        sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead())
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    if scan_tasks_of is not None and sd.numTasks() == scan_tasks_of:
                        out["scan_tasks"] += sd.numTasks()
        out["sql_execs"] = self._sql_store.executionsCount() - self._n_sql
        jit_s, gc_s = self._jvm_times()
        out["jit_s"], out["gc_s"] = jit_s - self._jvm0[0], gc_s - self._jvm0[1]
        return out
