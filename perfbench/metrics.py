"""Metric definitions and their computation from a workload's result.

``END_TO_END`` and ``PER_LAYER`` are the names and units that
``BENCHMARK.json`` declares (``test_perfbench.py`` keeps the two in
step).  Every run reports every metric of its kind; a layer a workload
does not use reads 0.  Per-layer values are medians over the warm
operations of the run (the cold first operation is excluded, as in
``warm_s``), taken per operation over that operation's spans and
status-store delta.
"""

from __future__ import annotations

import os
from collections import defaultdict

from workloads import median

END_TO_END = [
    ("setup_s", "s"),
    ("cold_s", "s"),
    ("warm_s", "s"),
]


PER_LAYER = [
    ("session.start_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("process.cpu_s", "s"),
    ("sources.listing_scrape.pages_fetched", "count"),
    ("sources.listing_scrape.fetch_window_s", "s"),
    ("sources.listing_scrape.scan_tasks", "count"),
    ("functions.html_cards.cards_per_page", "ratio"),
    ("operators.snapshot.write_s", "s"),
    ("operators.snapshot.partitions_seen", "count"),
    ("operators.maintenance.list_partitions_s", "s"),
    ("operators.dedup.materialize_calls", "count"),
    ("operators.dedup.materialize_s", "s"),
    ("operators.maintenance.compact_s", "s"),
    ("operators.maintenance.files_before", "count"),
    ("operators.maintenance.files_after", "count"),
    ("sinks.report.write_s", "s"),
    ("sinks.report.rows", "count"),
    ("sinks.report.notify_s", "s"),
    ("sinks.xlsxlite.write_s", "s"),
    ("sinks.xlsxlite.bytes", "bytes"),
    ("pipelines.publish.self_s", "s"),
    ("queries.build_s", "s"),
    ("queries.quality.build_s", "s"),
    ("queries.events.build_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.sql_execs", "count"),
    ("spark.task_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.core_util", "ratio"),
    ("jvm.jit_s", "s"),
    ("jvm.gc_s", "s"),
    ("trace.overhead_s", "s"),
]

# span name -> (per-layer metric, what to sum per operation)
_SPAN_SUMS = {
    "operators.snapshot.write_snapshot": [("operators.snapshot.write_s", "dur")],
    "operators.maintenance.list_partitions": [
        ("operators.maintenance.list_partitions_s", "dur"),
        ("operators.snapshot.partitions_seen", "partitions")],
    "operators.dedup.materialize": [("operators.dedup.materialize_s", "dur"),
                                    ("operators.dedup.materialize_calls", "one")],
    "operators.maintenance.compact_table": [
        ("operators.maintenance.compact_s", "dur"),
        ("operators.maintenance.files_before", "files_before"),
        ("operators.maintenance.files_after", "files_after")],
    "sinks.report.write_styled_report": [("sinks.report.write_s", "dur")],
    "sinks.report.notify_if_nonempty": [("sinks.report.notify_s", "dur")],
    "sinks.xlsxlite.write_xlsx": [("sinks.xlsxlite.write_s", "dur"),
                                  ("sinks.xlsxlite.bytes", "bytes"),
                                  ("sinks.report.rows", "rows")],
    "pipelines.publish.publish_daily": [("pipelines.publish.self_s", "self")],
}

_SPARK = ["jobs", "stages", "tasks", "sql_execs", "task_s", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes"]


def end_to_end(res: dict, setup_info: dict) -> dict:
    values = {"setup_s": setup_info["setup_s"],
              **{k: res[k] for k in ("cold_s", "warm_s")}}
    return {n: {"value": values[n], "unit": u} for n, u in END_TO_END}


def per_layer(res: dict, ctx, setup_info: dict, rss_mb: float) -> dict:
    warm = [o for o in res["ops"] if o["warm"]]
    warm_ids = {o["op_id"] for o in warm}
    tracer = ctx.tracer
    per_op: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s, self_s in zip(tracer.spans, tracer.self_seconds()):
        if s["op_id"] not in warm_ids:
            continue
        row = per_op[s["op_id"]]
        for metric, what in _SPAN_SUMS.get(s["name"], []):
            row[metric] += {"dur": s["end"] - s["start"], "self": self_s,
                            "one": 1}.get(what, s.get(what, 0))
        if s["name"].startswith("queries."):
            row["queries.build_s"] += s["end"] - s["start"]
            row[s["name"] + ".build_s"] += s["end"] - s["start"]
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
    for o in warm:
        row = per_op[o["op_id"]]
        for k in _SPARK:
            row[f"spark.{k}"] = o["spark"][k]
        row["spark.core_util"] = o["spark"]["task_s"] / (o["seconds"] * cores)
        row["jvm.jit_s"] = o["spark"]["jit_s"]
        row["jvm.gc_s"] = o["spark"]["gc_s"]
        row["trace.overhead_s"] = o["trace_overhead_s"]
        row["process.cpu_s"] = o["cpu_s"]
        if "gets" in o:
            row["sources.listing_scrape.pages_fetched"] = o["gets"]
            row["sources.listing_scrape.fetch_window_s"] = o["window_s"]
            row["sources.listing_scrape.scan_tasks"] = o["spark"]["scan_tasks"]
            row["functions.html_cards.cards_per_page"] = (
                o.get("rows_scraped", 0) / max(1, o["gets"]))
    values: dict[str, float] = {}
    for name, _unit in PER_LAYER:
        values[name] = median((per_op[o["op_id"]].get(name, 0.0) for o in warm), 0.0)
    values["session.start_s"] = setup_info["session.start_s"]
    values["session.peak_rss_mb"] = rss_mb
    return {n: {"value": values[n], "unit": u} for n, u in PER_LAYER}
