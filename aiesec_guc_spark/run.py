"""End-to-end pipeline runner — the reference's single top-to-bottom
script (aiesec.py:21-251 under the main.yml:35-36 cron) as one CLI
invocation:

    python -m aiesec_guc_spark --data-dir /path/snapshots \\
        --out-dir /path/reports --run-date 2026-08-13

Stage map (reference → here):

1. rotate (aiesec.py:20-21)      → append-only run_date partition; no
                                   file copy, "yesterday" = lag-1
                                   partition (operators/snapshot.py)
2. scrape (aiesec.py:22-67)      → `format("listing_scrape")` source
                                   (fixture-backed `_fetch` seam)
3. extract (aiesec.py:83-126)    → `extract_cards` (codegen'd regexes)
4. Today.xlsx (aiesec.py:130-132)→ `write_snapshot` partition append
                                   + full snapshot through the styled
                                   report edge (today_<date>.xlsx)
5. anti-join (aiesec.py:137-143) → `snapshot_delta` (left_anti)
6. New.xlsx + style (:145-183)   → `write_styled_report` (+ autofit)
7. email iff delta (:188-251)    → `notify_if_nonempty` with the full
                                   HTML document body (transport
                                   injected; default logs)

First run (no prior partition): the whole snapshot is the delta, the
same as the reference diffing against an empty Yesterday.
"""

from __future__ import annotations

import argparse
import logging
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def scrape_today(
    spark: SparkSession, base_url: str | None = None, pages: int = 0
) -> DataFrame:
    """Stages 2-3: scrape source → card extraction.

    With ``base_url`` the source fetches ``{base_url}?page=N`` for
    pages 1..``pages`` over HTTP (the reference's live pagination,
    parallelized: at most one partition per core, each a contiguous
    run of pages, so at most one GET per core in flight); without it
    the recorded fixtures serve hermetic runs.  ``pages=0`` gives an
    empty frame."""
    from .functions.html_cards import extract_cards
    from .sources.listing_scrape import register_listing_source

    if register_listing_source(spark):
        reader = spark.read.format("listing_scrape")
        if base_url:
            reader = reader.option("base_url", base_url).option("pages", pages)
        cards = reader.load()
    else:  # pragma: no cover - Spark < 4 fallback
        from .sources.fixtures import FIXTURE_CARDS

        cards = spark.createDataFrame(FIXTURE_CARDS, "page_id int, html string")
    return extract_cards(cards)


def run_pipeline(
    spark: SparkSession,
    data_dir: str,
    out_dir: str,
    run_date: str,
    send: Callable[[str], None] | None = None,
    base_url: str | None = None,
    pages: int = 0,
) -> dict:
    """One scheduled run, start to finish.  Returns a summary dict
    (rows scraped, delta rows, report path, whether a notification
    went out) so callers/tests can assert on the outcome."""
    from .operators.dedup import materialize
    from .operators.snapshot import snapshot_delta, write_snapshot
    from .sinks.report import notify_if_nonempty, render_email_html, write_styled_report

    snap_path = os.path.join(data_dir, "snapshots")

    today = scrape_today(spark, base_url=base_url, pages=pages)
    write_snapshot(today, snap_path, run_date)

    snaps = spark.read.parquet(snap_path)
    # Prior-day discovery is DIRECTORY-based (same rule as
    # read_snapshot_pair): a quiet day's partition holds a zero-row
    # file that a distinct-over-rows would skip, silently diffing
    # today against an OLDER day — suppressing re-appearances as
    # "not new".  ISO run_date strings order lexically.
    from .operators.maintenance import list_partitions

    prior_dates = [
        d
        for d in list_partitions(snap_path, "run_date", spark=spark)
        if d < run_date
    ]
    today_rows = snaps.filter(F.col("run_date") == run_date).drop("run_date")
    if prior_dates:
        yesterday = snaps.filter(F.col("run_date") == prior_dates[-1]).drop("run_date")
    else:
        yesterday = today_rows.filter(F.lit(False))  # first run: all new
    # Materialized once: the delta feeds three consumers (report
    # write, notification render, row count) — without this the
    # snapshot-read + anti-join plan would execute three times.
    delta = materialize(snapshot_delta(today_rows, yesterday, keys=["opportunity_id"]))

    os.makedirs(out_dir, exist_ok=True)
    # Run metrics ride along on the report-write actions via the
    # Observation API — no separate count() jobs re-scanning the
    # snapshot (the reference prints counts from the frames it
    # already holds, aiesec.py:133/186; this is the Spark analogue).
    from pyspark.sql import Observation

    obs_today = Observation("today_rows")
    obs_delta = Observation("delta_rows")
    today_obs = today_rows.observe(obs_today, F.count(F.lit(1)).alias("n"))
    delta_obs = delta.observe(obs_delta, F.count(F.lit(1)).alias("n"))

    # Literal Today.xlsx parity (aiesec.py:130-132): the FULL snapshot
    # goes through the styled-report edge too, alongside its canonical
    # parquet partition — the reference ships both artifacts per run.
    snapshot_report_path = write_styled_report(
        today_obs, os.path.join(out_dir, f"today_{run_date}")
    )
    report_path = write_styled_report(
        delta_obs, os.path.join(out_dir, f"new_{run_date}")
    )

    notified = notify_if_nonempty(
        delta, send=send or _log_send, renderer=render_email_html
    )

    # .get blocks until the observed action completes — both report
    # writes above already ran, so these are immediate lookups.
    n_today = int(obs_today.get["n"])
    n_delta = int(obs_delta.get["n"])
    log.info("run %s: %d scraped, %d new", run_date, n_today, n_delta)
    return {
        "run_date": run_date,
        "rows_scraped": n_today,
        "delta_rows": n_delta,
        "report_path": report_path,
        "snapshot_report_path": snapshot_report_path,
        "notified": notified,
    }


def _log_send(body: str) -> None:
    log.info("notification (%d chars):\n%s", len(body), body)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="aiesec_guc_spark", description=__doc__)
    p.add_argument("--data-dir", required=True, help="snapshot table root")
    p.add_argument("--out-dir", required=True, help="report output dir")
    p.add_argument("--run-date", required=True, help="YYYY-MM-DD of this run")
    p.add_argument(
        "--base-url",
        help="fetch listing pages over HTTP ({base_url}?page=N) instead of fixtures",
    )
    p.add_argument(
        "--pages", type=int, default=0, help="number of pages with --base-url"
    )
    p.add_argument(
        "--smtp-host",
        help="send the guarded notification via smtplib to this host "
        "(credentials via SPARK_GRAFT_SMTP_USER/_PASSWORD; default logs only)",
    )
    p.add_argument("--smtp-port", type=int, default=587)
    p.add_argument("--smtp-from", default="pipeline@localhost")
    p.add_argument("--smtp-to", help="comma-separated recipient list")
    p.add_argument("--smtp-tls", action="store_true", help="STARTTLS before auth")
    args = p.parse_args(argv)

    # Fail at parse time, not mid-pipeline: --base-url with the default
    # pages=0 scrapes an empty listing, so the run would record an
    # empty snapshot and report nothing new without fetching a page, and
    # --smtp-host with no recipients raises SMTPRecipientsRefused only
    # AFTER the whole run (scrape + snapshot + reports) has completed,
    # losing the notification.
    if args.base_url and args.pages < 1:
        p.error("--base-url requires --pages >= 1")
    if args.smtp_host and not (args.smtp_to or "").strip():
        p.error("--smtp-host requires --smtp-to")

    send: Callable[[str], None] | None = None
    if args.smtp_host:
        from .sinks.smtp import SMTPTransport

        send = SMTPTransport(
            host=args.smtp_host,
            port=args.smtp_port,
            sender=args.smtp_from,
            recipients=[r.strip() for r in (args.smtp_to or "").split(",") if r.strip()],
            use_tls=args.smtp_tls,
        )

    logging.basicConfig(level=logging.INFO)
    from .session import get_spark

    spark = get_spark("pipeline_run")
    spark.sparkContext.setLogLevel("ERROR")
    summary = run_pipeline(
        spark,
        args.data_dir,
        args.out_dir,
        args.run_date,
        send=send,
        base_url=args.base_url,
        pages=args.pages,
    )
    print(summary)
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
