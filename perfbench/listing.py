"""Seeded loopback listing for the ``daily_diff`` workload.

A ``Listing`` is the whole day-by-day history of an opportunity
listing, generated from one seed: a bootstrap day, churn days (some IDs
open, some close, some applicant counts change), a quiet day that opens
nothing, and a same-date rerun.  Each ``Day`` carries its exact ground
truth, so the benchmark can check ``run_pipeline`` without a second
implementation of the pipeline.

``ListingServer`` serves the current day over loopback HTTP as
``?page=N`` with ONE card per page.  One card per page is forced by the
scrape source: in HTTP mode each response body becomes one row, and
``extract_cards`` reads the first card of a row, so a page with several
cards would silently lose all but one.  The server is single-threaded
(``http.server.HTTPServer``) and counts the GETs and their time window
per day.
"""

from __future__ import annotations

import datetime
import http.server
import random
import threading
import time
from dataclasses import dataclass, field

_ROLES = ["Data Engineering", "Marketing", "Finance", "Teaching", "Backend",
          "Sales", "HR", "Product", "Design", "Operations"]
_LEVELS = ["Intern", "Trainee", "Associate", "Volunteer"]
_CITIES = ["Berlin, Germany", "Cairo, Egypt", "Lima, Peru", "Oslo, Norway",
           "Hanoi, Vietnam", "Accra, Ghana", "Remote", "Lisbon, Portugal"]
_DURATIONS = ["6 - 18 Months", "9 - 12 Weeks", "3 - 6 Months", "8 Weeks", "."]
_ORGS = ["Acme GmbH", "DataDEV", "DHL Group", "Orgless Co", "DotCorp", "NewOrg"]


@dataclass(frozen=True)
class Card:
    opp_id: str
    title: str
    country: str
    premium: bool
    applicants: int
    duration: str
    organization: str

    def html(self) -> str:
        badge = "<b>Premium</b>" if self.premium else ""
        noun = "applicant" if self.applicants == 1 else "applicants"
        return (
            f'<a href="/opportunity/global-talent/{self.opp_id}">'
            f"<h3>{self.title}</h3>{badge}"
            f"<span>{self.country}</span><span>{self.duration}</span>"
            f'<div class="org">{self.organization}</div>'
            f'<div class="meta">{self.applicants} {noun}</div></a>'
        )


@dataclass(frozen=True)
class Day:
    """One scheduled run: the listing served and what the run must find."""

    run_date: str
    kind: str  # bootstrap | churn | quiet | rerun
    cards: tuple[Card, ...]
    new_ids: frozenset[str]  # IDs absent from the previous run_date
    changed_ids: frozenset[str] = field(default=frozenset())  # same ID, new applicants

    @property
    def ids(self) -> list[str]:
        return [c.opp_id for c in self.cards]


class Listing:
    """Seeded day sequence over ``n_cards`` cards with ~``churn`` daily turnover.

    Day order: bootstrap, churn, a rerun of that churn date, quiet, then
    churn days for as long as the caller asks.  Days are made on
    demand with ``day(i)`` and are identical for identical seeds.
    """

    PREFIX = ("bootstrap", "churn", "rerun", "quiet")

    def __init__(self, seed: int, n_cards: int, churn: float = 0.03):
        self._rng = random.Random(seed)
        self._k = max(1, round(churn * n_cards))
        self._next_id = 1_000_000 + self._rng.randrange(1_000_000)
        self._days: list[Day] = []
        cards = tuple(self._new_card() for _ in range(n_cards))
        self._days.append(Day(self._date(0), "bootstrap", cards,
                              frozenset(c.opp_id for c in cards)))

    def _date(self, n: int) -> str:
        return (datetime.date(2026, 1, 1) + datetime.timedelta(days=n)).isoformat()

    def _new_card(self) -> Card:
        r = self._rng
        self._next_id += 1 + r.randrange(50)
        return Card(
            opp_id=str(self._next_id),
            title=f"{r.choice(_ROLES)} {r.choice(_LEVELS)}",
            country=r.choice(_CITIES),
            premium=r.random() < 0.2,
            applicants=r.randrange(0, 80),
            duration=r.choice(_DURATIONS),
            organization=r.choice(_ORGS),
        )

    def _next(self, kind: str) -> Day:
        prev = self._days[-1]
        if kind == "rerun":
            return Day(prev.run_date, "rerun", prev.cards, prev.new_ids,
                       prev.changed_ids)
        r = self._rng
        cards = list(prev.cards)
        for i in sorted(r.sample(range(len(cards)), self._k), reverse=True):
            del cards[i]  # closed
        changed = set()
        for i in r.sample(range(len(cards)), min(self._k, len(cards))):
            c = cards[i]
            cards[i] = Card(c.opp_id, c.title, c.country, c.premium,
                            c.applicants + 1 + r.randrange(10), c.duration,
                            c.organization)
            changed.add(c.opp_id)
        opened = [self._new_card() for _ in range(self._k if kind == "churn" else 0)]
        for c in opened:
            cards.insert(r.randrange(len(cards) + 1), c)
        n = sum(1 for d in self._days if d.kind != "rerun")
        return Day(self._date(n), kind, tuple(cards),
                   frozenset(c.opp_id for c in opened), frozenset(changed))

    def day(self, i: int) -> Day:
        while len(self._days) <= i:
            n = len(self._days)
            self._days.append(self._next(self.PREFIX[n] if n < len(self.PREFIX) else "churn"))
        return self._days[i]


class _Handler(http.server.BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802 - http.server API
        srv: ListingServer = self.server.owner  # type: ignore[attr-defined]
        _, _, query = self.path.partition("?")
        params = dict(p.split("=", 1) for p in query.split("&") if "=" in p)
        body = srv.page(int(params.get("page", "0")))
        if body is None:
            self.send_error(404)
            return
        data = body.encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *args):  # keep stderr quiet
        pass


class ListingServer:
    """Single-threaded loopback server for one ``Day`` at a time.

    ``serve(day)`` swaps the listing; ``stats()`` returns the GET count
    and the first/last GET times since the last ``serve``.
    """

    def __init__(self):
        self._httpd = http.server.HTTPServer(("127.0.0.1", 0), _Handler)
        self._httpd.owner = self  # type: ignore[attr-defined]
        self._lock = threading.Lock()
        self._pages: list[str] = []
        self._gets = 0
        self._first = self._last = 0.0
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._httpd.server_port}/listing"

    def serve(self, day: Day) -> None:
        with self._lock:
            self._pages = [c.html() for c in day.cards]
            self._gets = 0
            self._first = self._last = 0.0

    def page(self, n: int) -> str | None:
        now = time.perf_counter()
        with self._lock:
            if not 1 <= n <= len(self._pages):
                return None
            self._gets += 1
            self._first = self._first or now
            self._last = now
            return self._pages[n - 1]

    def stats(self) -> dict:
        with self._lock:
            return {"gets": self._gets, "window_s": self._last - self._first}

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)
