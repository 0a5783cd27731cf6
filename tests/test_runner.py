"""End-to-end runner (reference aiesec.py:21-251 / main.yml:35-36 as
one invocation) and the Excel snapshot round-trip (S4 read edge +
S6 styled write with autofit)."""

from __future__ import annotations

import os


from aiesec_guc_spark.run import run_pipeline
from aiesec_guc_spark.sinks.report import (
    read_snapshot_xlsx,
    render_email_html,
    write_styled_report,
)
from aiesec_guc_spark.sources.fixtures import (
    EXPECTED_DELTA_ROWS,
    snapshot_pair,
)


def test_pipeline_first_and_second_run(spark, tmp_path):
    data_dir, out_dir = str(tmp_path / "data"), str(tmp_path / "out")
    sent: list[str] = []

    # First run: no prior partition, every scraped card is new.
    s1 = run_pipeline(spark, data_dir, out_dir, "2026-08-12", send=sent.append)
    assert s1["rows_scraped"] == 6
    assert s1["delta_rows"] == 6
    assert s1["notified"] and len(sent) == 1
    assert os.path.exists(s1["report_path"])
    # Both per-run artifacts exist: the delta report (New.xlsx) AND
    # the full-snapshot report (Today.xlsx, aiesec.py:130-132).
    assert os.path.exists(s1["snapshot_report_path"])
    assert s1["snapshot_report_path"] != s1["report_path"]
    # Full email document, not bare cards (aiesec.py:221-233).
    assert sent[0].startswith("<!DOCTYPE html>")
    assert "<meta charset=" in sent[0] and "</html>" in sent[0]

    # Second run, same fixture scrape: nothing new, notify skipped.
    s2 = run_pipeline(spark, data_dir, out_dir, "2026-08-13", send=sent.append)
    assert s2["delta_rows"] == 0
    assert not s2["notified"] and len(sent) == 1
    assert os.path.exists(s2["report_path"])
    assert os.path.exists(s2["snapshot_report_path"])


def test_snapshot_write_read_roundtrip_delta(spark, tmp_path):
    """S4: write both snapshots via the edge sink, read them back, and
    the anti-join of the round-tripped frames equals the golden
    delta — the reference's exact on-disk state transition
    (aiesec.py:130-145).  Real xlsx on both sink paths (openpyxl or
    the vendored stdlib writer)."""
    from aiesec_guc_spark.operators.snapshot import snapshot_delta

    today, yesterday = snapshot_pair(spark)
    t_path = write_styled_report(today, str(tmp_path / "Today"))
    y_path = write_styled_report(yesterday, str(tmp_path / "Yesterday"))

    t2 = read_snapshot_xlsx(spark, t_path)
    y2 = read_snapshot_xlsx(spark, y_path)
    delta = snapshot_delta(t2, y2, keys=["opportunity_id"])
    got = [tuple(r) for r in delta.collect()]
    assert got == EXPECTED_DELTA_ROWS


def test_styled_xlsx_autofit(spark, tmp_path):
    """Autofit parity (aiesec.py:175-181): every column of the styled
    report gets a width — real xlsx bytes on BOTH sink paths (openpyxl
    when installed, the vendored stdlib writer otherwise), audited via
    the stdlib XML reader so the assertion runs in any environment."""
    from aiesec_guc_spark.sinks import xlsxlite

    today, _ = snapshot_pair(spark)
    t_path = write_styled_report(today, str(tmp_path / "Today"))
    assert t_path.endswith(".xlsx")
    n_cols = len(today.columns)
    styles = xlsxlite.read_styles(t_path)
    widths = [styles["col_widths"].get(i) for i in range(1, n_cols + 1)]
    assert all(w and w >= 3 for w in widths)


def test_cli_main_runs_end_to_end(spark, tmp_path):
    """The argparse entry (python -m aiesec_guc_spark) wires the same
    pipeline; exit code 0 and a report on disk."""
    from aiesec_guc_spark.run import main

    rc = main(
        [
            "--data-dir", str(tmp_path / "d"),
            "--out-dir", str(tmp_path / "o"),
            "--run-date", "2026-08-13",
        ]
    )
    assert rc == 0
    out_names = sorted(p.name for p in (tmp_path / "o").iterdir())
    assert len(out_names) == 2  # new_<date> delta + today_<date> snapshot
    assert out_names[0].startswith("new_") and out_names[1].startswith("today_")


def test_cli_rejects_incoherent_flag_combinations(tmp_path):
    # Parse-time validation: --base-url with the default pages=0 would
    # scrape an empty listing and record an empty snapshot;
    # --smtp-host with no recipients would raise
    # SMTPRecipientsRefused only AFTER the whole pipeline ran.
    import pytest

    from aiesec_guc_spark.run import main

    base = [
        "--data-dir", str(tmp_path / "d"),
        "--out-dir", str(tmp_path / "o"),
        "--run-date", "2026-08-13",
    ]
    for extra in (
        ["--base-url", "http://localhost:1/listings"],
        ["--base-url", "http://localhost:1/listings", "--pages", "0"],
        ["--smtp-host", "localhost"],
        ["--smtp-host", "localhost", "--smtp-to", "  "],
    ):
        with pytest.raises(SystemExit) as exc:
            main(base + extra)
        assert exc.value.code == 2


def test_email_html_is_full_document(spark):
    today, _ = snapshot_pair(spark)
    html = render_email_html(today)
    assert html.startswith("<!DOCTYPE html>")
    assert html.rstrip().endswith("</html>")
    assert "card" in html
    empty = today.filter("1 = 0")
    assert render_email_html(empty) == ""


def test_quiet_day_resets_the_delta_baseline(spark, tmp_path):
    """A scrape that finds ZERO cards is a legal run (site outage,
    empty listing) and its partition IS the new baseline: the next
    day's delta must diff against the EMPTY yesterday (everything
    new again), never silently skip it and diff against the older
    populated day (which reported 0 new — the row-based prior-day
    discovery bug this pins)."""
    from aiesec_guc_spark.operators.snapshot import write_snapshot
    from aiesec_guc_spark.sources.fixtures import snapshot_pair as _pair

    data_dir, out_dir = str(tmp_path / "data"), str(tmp_path / "out")
    sent: list[str] = []

    s1 = run_pipeline(spark, data_dir, out_dir, "2026-08-12", send=sent.append)
    assert s1["delta_rows"] == 6

    # quiet day: the scraper returned nothing — its empty partition
    # still lands (write_snapshot handles zero rows since round 10)
    today_frame, _ = _pair(spark)
    write_snapshot(
        today_frame.limit(0),
        os.path.join(data_dir, "snapshots"),
        "2026-08-13",
    )

    s3 = run_pipeline(spark, data_dir, out_dir, "2026-08-14", send=sent.append)
    assert s3["delta_rows"] == 6  # vs the empty 08-13, NOT the full 08-12
    assert s3["notified"]
