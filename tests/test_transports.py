"""Hermetic tests for the outward-facing transports: the smtplib
notification path (reference S7's real send, against a loopback SMTP
server) and the HTTP fetch mode of the listing-scrape DataSource
(against a loopback http.server).  No external network is touched."""

from __future__ import annotations

import http.server
import os
import socket
import threading

import pytest

from aiesec_guc_spark.sinks.report import notify_if_nonempty, render_email_html
from aiesec_guc_spark.sinks.smtp import SMTPTransport, build_message


class MiniSMTPServer(threading.Thread):
    """Just enough RFC 5321 to receive one message from smtplib.
    With ``ssl_context`` the accepted socket is TLS-wrapped before the
    banner — SSL-on-connect, the smtplib.SMTP_SSL handshake."""

    def __init__(self, ssl_context=None) -> None:
        super().__init__(daemon=True)
        self.sock = socket.socket()
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(1)
        self.port = self.sock.getsockname()[1]
        self.messages: list[str] = []
        self.ssl_context = ssl_context

    def run(self) -> None:
        conn, _ = self.sock.accept()
        if self.ssl_context is not None:
            conn = self.ssl_context.wrap_socket(conn, server_side=True)
        reader = conn.makefile("rb")

        def send(line: str) -> None:
            conn.sendall(line.encode() + b"\r\n")

        send("220 mini ESMTP")
        data_mode, buf = False, []
        while True:
            raw = reader.readline()
            if not raw:
                break
            line = raw.decode().rstrip("\r\n")
            if data_mode:
                if line == ".":
                    self.messages.append("\n".join(buf))
                    buf, data_mode = [], False
                    send("250 OK")
                else:
                    buf.append(line)
                continue
            cmd = line.split(" ", 1)[0].upper()
            if cmd in ("HELO", "EHLO"):
                send("250 mini")
            elif cmd in ("MAIL", "RCPT"):
                send("250 OK")
            elif cmd == "DATA":
                data_mode = True
                send("354 end with .")
            elif cmd == "QUIT":
                send("221 bye")
                break
            else:
                send("250 OK")
        conn.close()
        self.sock.close()


def test_build_message_shape():
    msg = build_message("a@x", ["b@y", "c@z"], "Subj", "<p>hi</p>")
    assert msg["From"] == "a@x"
    assert msg["To"] == "b@y, c@z"
    assert msg["Subject"] == "Subj"
    assert "<p>hi</p>" in msg.as_string()


def test_smtp_transport_delivers_to_loopback_server():
    srv = MiniSMTPServer()
    srv.start()
    transport = SMTPTransport(
        host="127.0.0.1",
        port=srv.port,
        sender="pipeline@example.org",
        recipients=["dest@example.org"],
        subject="New Opportunities",
    )
    transport("<div class=\"card\">hello</div>")
    srv.join(timeout=10)
    assert len(srv.messages) == 1
    delivered = srv.messages[0]
    assert "Subject: New Opportunities" in delivered
    assert "hello" in delivered


def test_guarded_sink_with_smtp_transport(spark):
    """notify_if_nonempty + SMTPTransport end-to-end: nonempty delta
    sends exactly one message; empty delta never opens a connection."""
    schema = (
        "opportunity_link string, title string, organization string, "
        "country string, duration string, premium string"
    )
    delta = spark.createDataFrame(
        [("http://x/1", "T1", "Org", "DE", "6w", "Yes")], schema
    )
    srv = MiniSMTPServer()
    srv.start()
    transport = SMTPTransport(
        "127.0.0.1", srv.port, "p@x", ["d@y"], subject="Delta report"
    )
    assert notify_if_nonempty(delta, send=transport, renderer=render_email_html)
    srv.join(timeout=10)
    assert len(srv.messages) == 1
    # Non-ASCII card separators force a base64 content-transfer-
    # encoding, so parse the MIME body rather than grepping raw bytes.
    import email

    parsed = email.message_from_string(srv.messages[0])
    html_part = parsed.get_payload(0).get_payload(decode=True).decode()
    assert "<!DOCTYPE html>" in html_part
    assert "T1" in html_part

    empty = spark.createDataFrame([], schema)
    # Port is closed now — a connection attempt would raise; the count
    # guard must short-circuit before any socket is opened.
    assert not notify_if_nonempty(empty, send=transport, renderer=render_email_html)


PAGE_HTML = (
    '<html><body><div class="card"><h3><a href="http://x/%d">T%d</a></h3>'
    "<p>Org · DE · 6w</p></div></body></html>"
)


class _PageHandler(http.server.BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802 - stdlib naming
        from urllib.parse import parse_qs, urlparse

        page = int(parse_qs(urlparse(self.path).query).get("page", ["0"])[0])
        self.server.gets.append(page)
        body = (PAGE_HTML % (page, page)).encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # silence per-request stderr noise
        pass


@pytest.fixture()
def http_server():
    """Loopback listing; ``.url`` to scrape, ``.gets`` the pages requested."""
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _PageHandler)
    srv.url = f"http://127.0.0.1:{srv.server_port}/listings"
    srv.gets = []
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()
    srv.server_close()


def test_scrape_source_http_mode(spark, http_server):
    from aiesec_guc_spark.sources.listing_scrape import register_listing_source

    if not register_listing_source(spark):
        pytest.skip("Python DataSource API unavailable")
    df = (
        spark.read.format("listing_scrape")
        .option("base_url", http_server.url)
        .option("pages", 3)
        .load()
    )
    rows = sorted(df.collect(), key=lambda r: r.page_id)
    assert [r.page_id for r in rows] == [1, 2, 3]
    for r in rows:
        assert f'href="http://x/{r.page_id}"' in r.html


def test_scrape_source_http_mode_packs_more_pages_than_cores(spark, http_server):
    """With about three pages per core, the scan still plans at most one
    partition per core, returns exactly what one `_fetch` per page
    returns, and GETs each page once."""
    from aiesec_guc_spark.session import default_parallelism
    from aiesec_guc_spark.sources.listing_scrape import _fetch, register_listing_source

    if not register_listing_source(spark):
        pytest.skip("Python DataSource API unavailable")
    cores = default_parallelism()
    n_pages = 3 * cores + 1
    df = (
        spark.read.format("listing_scrape")
        .option("base_url", http_server.url)
        .option("pages", n_pages)
        .load()
    )
    assert df.rdd.getNumPartitions() <= cores
    rows = sorted((r.page_id, r.html) for r in df.collect())
    assert sorted(http_server.gets) == list(range(1, n_pages + 1))

    expected = [
        (p, html) for p in range(1, n_pages + 1) for html in _fetch(p, http_server.url)
    ]
    assert rows == expected


def test_scrape_source_zero_pages_is_an_empty_frame(spark, http_server):
    from aiesec_guc_spark.sources.listing_scrape import register_listing_source

    if not register_listing_source(spark):
        pytest.skip("Python DataSource API unavailable")
    df = (
        spark.read.format("listing_scrape")
        .option("base_url", http_server.url)
        .option("pages", 0)
        .load()
    )
    assert df.collect() == []
    assert http_server.gets == []


def test_scrape_source_fixture_mode_unchanged(spark):
    from aiesec_guc_spark.sources.listing_scrape import register_listing_source

    if not register_listing_source(spark):
        pytest.skip("Python DataSource API unavailable")
    df = spark.read.format("listing_scrape").load()
    assert df.count() > 0


CARD_PAGE = (
    '<html><body><div class="card">'
    '<h3><a href="/opportunity/%d">Role %d</a></h3>'
    '<span>Germany</span><span>6 weeks</span>'
    '<div class="org">Org %d</div>'
    "</div></body></html>"
)


class _CardHandler(http.server.BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802 - stdlib naming
        from urllib.parse import parse_qs, urlparse

        page = int(parse_qs(urlparse(self.path).query).get("page", ["0"])[0])
        body = (CARD_PAGE % (page * 100 + 1, page, page)).encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):
        pass


def test_cli_main_accepts_coherent_transport_flags_end_to_end(spark, tmp_path):
    """The happy-path twin of the parse-time flag-coherence guards
    (test_runner.py::test_cli_rejects_incoherent_flag_combinations):
    the same argparse entry with --base-url + valid --pages AND the
    SMTP flags must still compose the full pipeline over real loopback
    protocols after the validation change — guards reject incoherent
    combinations without taxing coherent ones."""
    from aiesec_guc_spark.run import main

    web = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _CardHandler)
    threading.Thread(target=web.serve_forever, daemon=True).start()
    smtp = MiniSMTPServer()
    smtp.start()
    try:
        rc = main(
            [
                "--data-dir", str(tmp_path / "d"),
                "--out-dir", str(tmp_path / "o"),
                "--run-date", "2026-08-13",
                "--base-url", f"http://127.0.0.1:{web.server_port}/listings",
                "--pages", "2",
                "--smtp-host", "127.0.0.1",
                "--smtp-port", str(smtp.port),
                "--smtp-to", "team@example.org",
            ]
        )
    finally:
        web.shutdown()
        web.server_close()
    assert rc == 0
    smtp.join(timeout=10)
    assert len(smtp.messages) == 1  # first run: delta nonempty -> sent
    out_names = sorted(p.name for p in (tmp_path / "o").iterdir())
    assert len(out_names) == 2
    assert out_names[0].startswith("new_") and out_names[1].startswith("today_")


def test_pipeline_http_scrape_to_smtp_notify(spark, tmp_path):
    """The reference's full daily run over real protocols, hermetic:
    HTTP pagination → extract → snapshot → delta → styled report →
    SMTP notification, all against loopback servers."""
    from aiesec_guc_spark.run import run_pipeline

    web = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _CardHandler)
    threading.Thread(target=web.serve_forever, daemon=True).start()
    smtp = MiniSMTPServer()
    smtp.start()
    try:
        transport = SMTPTransport(
            "127.0.0.1", smtp.port, "pipeline@x", ["team@y"], subject="New"
        )
        summary = run_pipeline(
            spark,
            data_dir=str(tmp_path / "data"),
            out_dir=str(tmp_path / "out"),
            run_date="2026-08-13",
            send=transport,
            base_url=f"http://127.0.0.1:{web.server_port}/listings",
            pages=2,
        )
    finally:
        web.shutdown()
        web.server_close()
    assert summary["rows_scraped"] == 2
    assert summary["delta_rows"] == 2  # first run: everything is new
    assert summary["notified"]
    smtp.join(timeout=10)
    assert len(smtp.messages) == 1
    assert os.path.exists(summary["report_path"])


def test_scrape_source_pluggable_render_fetcher(spark):
    """The fetcher seam (VERDICT r6 #7): an injectable renderer must
    run per-partition on executors and its HTML must flow through
    extract_cards — content the plain-HTTP/fixture paths cannot
    produce (the JS-only 'Load more' case, aiesec.py:40-63)."""
    from aiesec_guc_spark.functions.html_cards import extract_cards
    from aiesec_guc_spark.sources.listing_scrape import (
        register_listing_source,
    )

    if not register_listing_source(spark):
        import pytest

        pytest.skip("Python Data Source API unavailable")

    df = (
        spark.read.format("listing_scrape")
        .option(
            "fetcher",
            "aiesec_guc_spark.sources.listing_scrape:demo_render_fetcher",
        )
        .option("pages", 3)
        .load()
    )
    rows = df.collect()
    # 3 pages × 2 rendered cards, all carrying the renderer-only marker
    assert len(rows) == 6
    assert {r["page_id"] for r in rows} == {1, 2, 3}
    assert all('data-rendered="true"' in r["html"] for r in rows)

    # the rendered HTML flows through the extractor, nested markup and all
    cards = {r["opportunity_id"]: r.asDict() for r in extract_cards(df).collect()}
    assert len(cards) == 6
    c = cards["9000101"]
    assert c["title"] == "RenderedRole 1"
    assert c["organization"] == "JSOrg1"
    assert c["country"] == "City 1, Country"

    # neither non-renderer path can satisfy this content: fixtures have
    # no page 3, and no fixture card carries the renderer marker
    from aiesec_guc_spark.sources.listing_scrape import _fetch

    import pytest

    with pytest.raises(KeyError):
        _fetch(99)  # fixture path: page 99 does not exist
    assert all(
        'data-rendered="true"' not in h for h in _fetch(1)
    )


def test_resolve_fetcher_specs():
    from aiesec_guc_spark.sources.listing_scrape import (
        demo_render_fetcher,
        resolve_fetcher,
    )

    mod = "aiesec_guc_spark.sources.listing_scrape"
    assert resolve_fetcher(f"{mod}:demo_render_fetcher") is demo_render_fetcher
    assert resolve_fetcher(f"{mod}.demo_render_fetcher") is demo_render_fetcher

    import pytest

    with pytest.raises(ValueError):
        resolve_fetcher("nomodule")


def test_smtp_ssl_on_connect_delivers_to_tls_loopback(tmp_path):
    """The reference's actual transport is smtplib.SMTP_SSL on 465
    (aiesec.py:245-247) — TLS from the first byte, no STARTTLS
    upgrade.  Real handshake against a TLS-wrapped loopback server
    with a throwaway self-signed certificate."""
    import ssl
    import subprocess

    key, crt = str(tmp_path / "k.pem"), str(tmp_path / "c.pem")
    subprocess.run(
        [
            "openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
            "-keyout", key, "-out", crt, "-days", "1",
            "-subj", "/CN=127.0.0.1",
        ],
        check=True,
        capture_output=True,
    )
    server_ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    server_ctx.load_cert_chain(crt, key)
    srv = MiniSMTPServer(ssl_context=server_ctx)
    srv.start()

    client_ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
    client_ctx.check_hostname = False
    client_ctx.verify_mode = ssl.CERT_NONE  # self-signed loopback only
    transport = SMTPTransport(
        host="127.0.0.1",
        port=srv.port,
        sender="pipeline@example.org",
        recipients=["dest@example.org"],
        subject="New Opportunities",
        security="ssl",
        ssl_context=client_ctx,
    )
    transport('<div class="card">over ssl</div>')
    srv.join(timeout=10)
    assert len(srv.messages) == 1
    assert "over ssl" in srv.messages[0]


def test_smtp_security_mode_validation_and_alias():
    t = SMTPTransport("h", 1, "s@x", ["r@y"], security="bogus")
    with pytest.raises(ValueError):
        t("<p>x</p>")
    # legacy use_tls flag maps to starttls
    t2 = SMTPTransport("h", 1, "s@x", ["r@y"], use_tls=True)
    assert t2._mode() == "starttls"
    t3 = SMTPTransport("h", 1, "s@x", ["r@y"], security="ssl")
    assert t3._mode() == "ssl"
