"""The two benchmark workloads.  Each is a closed loop with one client:
it starts the next operation only after the previous one returned and
was checked.  A run makes a fixed number of operations, derived from
``--seconds`` with a per-workload nominal operation time measured on a
4-core host (``warm_ops``), so every run of a given length does the
same work and a faster program finishes the same schedule sooner.  The
fixed prefix of each schedule exercises every correctness check.

Every operation is timed on its own; its correctness checks run after
the timer stops and a failed check marks the operation failed without
stopping the run.
"""

from __future__ import annotations

import datetime
import glob
import os
import random
import statistics
import time
import traceback

import listing as listing_mod

# daily_diff: cards (= pages) on the listing each day; see README.md for
# why this is smaller than the reference's 443.
DAILY_CARDS = 16
# Byte-identical copies of the repository's test-corpus tables that each
# workload reads (README.md, "Inputs").
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
PUBLISH_DIR = os.path.join(DATA, "sf0.1")
# Nominal seconds per warm operation (a day, a publish).
DAY_NOMINAL_S = 2.5
PUBLISH_NOMINAL_S = 2.5


class Loop:
    """Operation bookkeeping shared by the workloads."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops: list[dict] = []

    def run(self, kind: str, warm: bool, fn, **info) -> tuple[object, dict]:
        """Time ``fn()`` as one operation; exceptions fail the operation.
        Only ``warm`` operations enter the warm medians."""
        op = {"op_id": f"op{len(self.ops)}", "kind": kind, "warm": warm, **info,
              "failures": []}
        self.ops.append(op)
        ctx = self.ctx
        if ctx.status is not None:
            overhead0 = ctx.tracer.overhead_s
            ctx.tracer.op_id = op["op_id"]
            ctx.status.begin(op["op_id"])
        out = None
        cpu0, host0 = tree_cpu_s(), host_ticks()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # noqa: BLE001 - counted, never aborts the run
            traceback.print_exc()
            op["failures"].append(f"raised {type(exc).__name__}: {exc}"[:300])
        op["seconds"] = time.perf_counter() - t0
        op["cpu_s"] = tree_cpu_s() - cpu0
        host1 = host_ticks()
        op["steal_share"] = (host1[1] - host0[1]) / max(1, host1[0] - host0[0])
        if ctx.status is not None:
            t1 = time.perf_counter()
            op["spark"] = ctx.status.end(op["op_id"], ctx.scan_tasks_of)
            ctx.tracer.op_id = None
            ctx.tracer.overhead_s += time.perf_counter() - t1
            op["trace_overhead_s"] = ctx.tracer.overhead_s - overhead0
        return out, op

    @staticmethod
    def check(op: dict, ok: bool, what: str) -> None:
        if not ok:
            op["failures"].append(what)


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every descendant: the driver JVM and its Python workers.
    Time stolen by the hypervisor is not in it, unlike wall time."""
    root = os.getpid() if root is None else root
    ticks: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        ticks[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in ticks.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def host_ticks() -> tuple[int, int]:
    """(all CPU ticks, stolen ticks) of the host since boot, /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return sum(fields), fields[7]


def warm_ops(seconds: float, nominal_s: float, minimum: int) -> int:
    """Warm operations in a run of ``seconds``: at least ``minimum``."""
    return max(minimum, round(seconds / nominal_s))


def median(xs, empty: float = float("nan")) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else empty


# ---------------------------------------------------------------- daily_diff

def daily_diff(ctx) -> dict:
    from aiesec_guc_spark import run as run_mod
    from aiesec_guc_spark.sinks.xlsxlite import read_xlsx

    days = listing_mod.Listing(ctx.seed, DAILY_CARDS)
    server = listing_mod.ListingServer()
    data_dir = os.path.join(ctx.work, "daily")
    out_dir = os.path.join(ctx.work, "daily_reports")
    loop = Loop(ctx)
    delta_by_date: dict[str, list[str]] = {}
    # The fixed prefix (bootstrap, churn, rerun, quiet) exercises every
    # check and lets the JIT settle: its churn day still runs 30-60%
    # slower than later ones.  The churn days after it are the warm days
    # whose median is ``warm_s``.
    prefix = len(listing_mod.Listing.PREFIX)
    try:
        for i in range(prefix + warm_ops(ctx.seconds, DAY_NOMINAL_S, 3)):
            day = days.day(i)
            server.serve(day)
            ctx.scan_tasks_of = len(day.cards)
            sent: list[str] = []
            res, op = loop.run(
                day.kind, i >= prefix,
                lambda: run_mod.run_pipeline(
                    ctx.spark, data_dir, out_dir, day.run_date, send=sent.append,
                    base_url=server.url, pages=len(day.cards)),
                run_date=day.run_date, cards=len(day.cards))
            op.update(server.stats())
            if res is None:
                continue
            op["rows_scraped"] = res["rows_scraped"]
            c = Loop.check
            c(op, res["rows_scraped"] == len(day.cards),
              f"rows_scraped {res['rows_scraped']} != {len(day.cards)}")
            c(op, res["delta_rows"] == len(day.new_ids),
              f"delta_rows {res['delta_rows']} != {len(day.new_ids)}")
            c(op, res["notified"] == (res["delta_rows"] > 0) == bool(sent),
              f"notified={res['notified']} delta={res['delta_rows']} sent={len(sent)}")
            cols, rows = read_xlsx(res["report_path"])
            ids = sorted(r[cols.index("opportunity_id")] for r in rows)
            c(op, ids == sorted(day.new_ids), "report IDs differ from the new IDs")
            c(op, not (set(ids) & day.changed_ids), "delta holds updated rows")
            cols, rows = read_xlsx(res["snapshot_report_path"])
            c(op, sorted(r[cols.index("opportunity_id")] for r in rows) == sorted(day.ids),
              "snapshot report IDs differ from the listing")
            if day.kind == "rerun":
                c(op, ids == delta_by_date.get(day.run_date),
                  "rerun delta differs from the first run of the date")
            delta_by_date[day.run_date] = ids
    finally:
        server.close()
    warm = [o for o in loop.ops if o["warm"]]
    day_p50 = median(o["seconds"] for o in warm)
    return {
        "ops": loop.ops,
        "cold_s": sum(o["seconds"] for o in loop.ops if not o["warm"]),
        "warm_s": day_p50,
        "named": {"day_p50_s": day_p50, "warm_cpu_s": median(o["cpu_s"] for o in warm),
                  "bootstrap_day_s": loop.ops[0]["seconds"],
                  "cards_per_s": sum(o.get("rows_scraped", 0) for o in warm)
                  / sum(o["seconds"] for o in warm)},
    }


# -------------------------------------------------------------- publish_sf01

def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        table = os.path.basename(path).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    return con


def publish(ctx) -> dict:
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from aiesec_guc_spark.pipelines import publish as publish_mod
    from aiesec_guc_spark.queries import oracle_sqls

    sf_dir = PUBLISH_DIR
    con = _duck(sf_dir)
    oracles = oracle_sqls()
    want_dq = {r[0]: int(r[1]) for r in con.execute(
        f"SELECT check_name, n_violations FROM ({oracles['dq_constraint_checks']})"
    ).fetchall()}
    want_rows = con.execute(
        f"SELECT count(*) FROM ({oracles['events_daily_ops_mart']})").fetchone()[0]
    con.close()
    fact_rows = sum(pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows
                    for t in ("orders", "lineitem", "events"))
    out_dir = os.path.join(ctx.work, "publish")
    table = os.path.join(out_dir, "daily_ops_mart")
    # Seeded dates, fixed shape: two new dates, then each even call reruns
    # the date before it, so every seed has the same mix of new and rerun.
    # The JIT settles over the first calls: on a 4-core host the third
    # still ran 35% and the sixth 20% slower than the ninth and later.
    # Timing calls on that slope makes a slow host count twice (the JIT
    # threads lag too), so the warm calls start at the ninth.
    settle = 8
    rng = random.Random(ctx.seed)
    day = datetime.date(2026, 1, 1) + datetime.timedelta(days=rng.randrange(365))
    loop = Loop(ctx)
    dates: set[str] = set()
    for i in range(settle + warm_ops(ctx.seconds, PUBLISH_NOMINAL_S, 3)):
        if i < 2 or i % 2:
            day += datetime.timedelta(days=rng.randint(1, 3))
        run_date = day.isoformat()
        sent: list[str] = []
        res, op = loop.run(
            "rerun" if run_date in dates else "publish", i >= settle,
            lambda: publish_mod.publish_daily(ctx.spark, sf_dir, out_dir, run_date,
                                              send=sent.append),
            run_date=run_date)
        dates.add(run_date)
        if res is None:
            continue
        c = Loop.check
        c(op, res["dq"] == want_dq, f"dq {res['dq']} != oracle {want_dq}")
        c(op, res["n_rows"] == want_rows, f"mart rows {res['n_rows']} != {want_rows}")
        c(op, res["notified"] == (want_rows > 0) == bool(sent), "notification guard")
        files = glob.glob(os.path.join(table, f"run_date={run_date}", "*.parquet"))
        c(op, len(files) == 1, f"compacted day holds {len(files)} parquet files")
        per_day = ds.dataset(table, format="parquet", partitioning="hive") \
            .to_table(columns=["run_date"]).column("run_date").to_pylist()
        c(op, len(per_day) == want_rows * len(dates),
          f"table holds {len(per_day)} rows for {len(dates)} days of {want_rows}")
    warm = [o for o in loop.ops if o["warm"]]
    publish_p50 = median(o["seconds"] for o in warm)
    return {
        "ops": loop.ops,
        "cold_s": sum(o["seconds"] for o in loop.ops if not o["warm"]),
        "warm_s": publish_p50,
        "named": {"publish_p50_s": publish_p50, "warm_cpu_s": median(o["cpu_s"] for o in warm),
                  "first_publish_s": loop.ops[0]["seconds"],
                  "fact_rows_per_s": fact_rows / publish_p50},
    }


WORKLOADS = {
    "daily_diff": daily_diff,
    "publish_sf01": publish,
}
