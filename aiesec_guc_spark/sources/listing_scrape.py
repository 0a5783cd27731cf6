"""Scrape-source connector (reference S1, aiesec.py:22-67) on the
Spark 4 Python Data Source API.

The reference drives a headless browser ("Load more" pagination, 30 s
sleeps) on the driver; the Spark-native shape is a custom
``DataSource`` whose reader packs the page list into at most one
partition per core (``session.default_parallelism()``), each a
contiguous, ascending run of pages fetched in order by one task.  A
Python data-source task has a fixed cost, so a scrape pays it once per
core, not once per page.  Since a task fetches its pages one after
another, at most one GET per core is in flight.

Three fetch modes behind one seam:

- **fixtures** (default): recorded HTML fragments (hermetic builds,
  FIXTURES.md §A2).
- **HTTP**: pass ``.option("base_url", ...)`` and ``.option("pages",
  N)`` — each partition GETs ``{base_url}?page={p}`` for each of its
  pages with stdlib urllib from its executor, so fetching parallelizes
  across the cluster instead of serializing behind the reference's
  per-page sleeps.  Partitioning, schema, and registration are
  identical in every mode.
- **pluggable renderer**: ``.option("fetcher",
  "my_pkg.scrape:render_fetch")`` names an importable callable
  ``(page_id, base_url, timeout) -> list[str]`` that REPLACES the
  HTTP GET on each executor.  This is the seam for JS-driven pages —
  the reference drives headless Chromium (cookie-dialog dismissal
  aiesec.py:40-46, "Load more" click loop aiesec.py:51-63) because
  the listing only exists after JS executes; a playwright/selenium
  fetcher slots in here and runs once per page on the executor, so
  rendering still parallelizes across the cluster.  The option is an
  import path (module:function), not a closure, because data-source
  options are strings and the name must resolve on every executor.

Usage:
    register_listing_source(spark)
    spark.read.format("listing_scrape").load()   # page_id, html rows
    spark.read.format("listing_scrape")
         .option("base_url", "http://host/listings")
         .option("pages", 3).load()
"""

from __future__ import annotations

import urllib.request

from pyspark.sql import SparkSession

from ..session import default_parallelism

try:  # Spark >= 4.0
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
        SimpleDataSourceStreamReader,
    )

    _HAS_DATASOURCE_API = True
except ImportError:  # pragma: no cover - older Spark
    DataSource = object  # type: ignore[assignment,misc]
    DataSourceReader = object  # type: ignore[assignment,misc]
    InputPartition = object  # type: ignore[assignment,misc]
    SimpleDataSourceStreamReader = object  # type: ignore[assignment,misc]
    _HAS_DATASOURCE_API = False


def _fixture_pages() -> dict[int, list[str]]:
    from .fixtures import FIXTURE_CARDS

    pages: dict[int, list[str]] = {}
    for page_id, html in FIXTURE_CARDS:
        pages.setdefault(page_id, []).append(html)
    return pages


def resolve_fetcher(spec: str):
    """Resolve a ``module:function`` (or ``module.function``) import
    path to the callable — executed on the executor, where the
    rendering library actually lives."""
    import importlib

    mod, sep, fn = spec.partition(":")
    if not sep:
        mod, _, fn = spec.rpartition(".")
    if not mod or not fn:
        raise ValueError(
            f"fetcher must be 'module:function', got {spec!r}"
        )
    return getattr(importlib.import_module(mod), fn)


def _fetch(
    page_id: int,
    base_url: str | None = None,
    timeout: float = 30.0,
    fetcher: str | None = None,
) -> list[str]:
    """The fetch seam: page id → HTML fragments for that page.

    With ``fetcher`` set, the named callable does the fetch (JS
    rendering, authenticated sessions, anything a plain GET can't do);
    with only ``base_url`` it GETs ``{base_url}?page={page_id}`` — the
    reference's browser pagination (aiesec.py:51-63) as one stateless
    HTTP request per page; with neither it serves recorded fixtures
    (hermetic builds).  Partitioning, schema, and registration are
    unchanged by the mode — each executor task calls `_fetch` once per
    page of its run, in page order (see `ListingScrapeReader`).
    """
    if fetcher is not None:
        return list(resolve_fetcher(fetcher)(page_id, base_url, timeout))
    if base_url is None:
        return _fixture_pages()[page_id]
    with urllib.request.urlopen(f"{base_url}?page={page_id}", timeout=timeout) as r:
        return [r.read().decode("utf-8", errors="replace")]


def demo_render_fetcher(
    page_id: int, base_url: str | None, timeout: float
) -> list[str]:
    """Executable example of a rendering fetcher: simulates content
    that exists only AFTER JS runs — each "rendered" card carries a
    ``data-rendered`` attribute and nested markup that neither the
    fixture set nor a plain HTTP GET of this (network-less) sandbox
    could produce.  A real deployment replaces this body with
    playwright/selenium driving headless Chromium per page (dismiss
    the cookie dialog, click "Load more" until page ``page_id`` is
    present — aiesec.py:40-63); the signature and per-executor
    execution model are exactly what that driver needs."""
    n_cards = 2
    cards = []
    for i in range(1, n_cards + 1):
        opp = 9000000 + page_id * 100 + i
        cards.append(
            f'<a data-rendered="true" href="/opportunity/global-talent/{opp}">'
            f"<h3>Rendered <b>Role {i}</b></h3>"
            f"<span>City {page_id}, Country</span><span>{i} Months</span>"
            f'<div class="org">JS <em>Org</em> {page_id}</div>'
            f'<div class="meta">{i} applicants</div></a>'
        )
    return cards


class ListingScrapeDataSource(DataSource):  # type: ignore[misc]
    """`format("listing_scrape")` — one row per card fragment."""

    @classmethod
    def name(cls) -> str:
        return "listing_scrape"

    def schema(self) -> str:
        return "page_id int, html string"

    def reader(self, schema) -> "ListingScrapeReader":
        return ListingScrapeReader(self.options)

    def simpleStreamReader(self, schema) -> "ListingScrapeStreamReader":
        return ListingScrapeStreamReader(self.options)


class ListingScrapeReader(DataSourceReader):  # type: ignore[misc]
    """Batch reader: the listing's pages — the unit the reference
    fetches serially behind its per-page sleep (aiesec.py:51-63) —
    packed into at most ``default_parallelism()`` partitions, each a
    contiguous, ascending run of pages, with sizes differing by at
    most one.  A task fetches its run in order, so at most one GET per
    core is in flight while the runs fetch in parallel."""

    def __init__(self, options=None):
        options = options or {}
        self.base_url = options.get("base_url")
        self.fetcher = options.get("fetcher")
        self.n_pages = int(options.get("pages", "0"))
        self.timeout = float(options.get("timeout", "30"))

    def partitions(self):
        if self.base_url is not None or self.fetcher is not None:
            pages = list(range(1, self.n_pages + 1))
        else:
            pages = sorted(_fixture_pages())
        if not pages:
            return []
        n_parts = min(default_parallelism(), len(pages))
        cuts = [i * len(pages) // n_parts for i in range(n_parts + 1)]
        return [InputPartition(pages[a:b]) for a, b in zip(cuts, cuts[1:])]

    def read(self, partition):
        if partition is None:  # Spark runs an empty plan as one read(None)
            return
        for page_id in partition.value:
            for html in _fetch(page_id, self.base_url, self.timeout, self.fetcher):
                yield (page_id, html)


class ListingScrapeStreamReader(SimpleDataSourceStreamReader):  # type: ignore[misc]
    """Streaming form of the scrape source: ``readStream.format(
    "listing_scrape")`` serves ONE listing page per micro-batch — the
    reference's "Load more" loop (aiesec.py:51-63) re-expressed as an
    incremental source with a durable offset.

    The offset is the next page number, checkpointed by the engine;
    ``readBetweenOffsets`` replays any page range deterministically
    (the fetch seam is stateless per page), which is what makes
    recovery after a checkpointed failure exactly-once.  Each batch
    reads every page currently available (file-source semantics;
    one ``availableNow`` batch drains the fixture set and matches the
    batch reader exactly) — ``option("pages_per_trigger", N)``
    throttles a live re-scrape to N pages per micro-batch.
    """

    def __init__(self, options=None):
        options = options or {}
        self.base_url = options.get("base_url")
        self.fetcher = options.get("fetcher")
        self.timeout = float(options.get("timeout", "30"))
        self.per_trigger = int(options.get("pages_per_trigger", "0"))  # 0 = all
        if self.base_url is not None or self.fetcher is not None:
            self.max_page = int(options.get("pages", "0"))
            self.first_page = 1
        else:
            pages = sorted(_fixture_pages())
            self.max_page = pages[-1] if pages else 0
            self.first_page = pages[0] if pages else 1

    def initialOffset(self) -> dict:
        return {"page": self.first_page}

    def _rows(self, page: int) -> list[tuple]:
        if page > self.max_page:
            return []
        return [
            (page, html)
            for html in _fetch(page, self.base_url, self.timeout, self.fetcher)
        ]

    def read(self, start: dict):
        page = start["page"]
        if page > self.max_page:  # caught up: empty batch, same offset
            return iter([]), start
        last = self.max_page if self.per_trigger <= 0 else min(
            self.max_page, page + self.per_trigger - 1
        )
        rows: list[tuple] = []
        for p in range(page, last + 1):
            rows.extend(self._rows(p))
        return iter(rows), {"page": last + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows: list[tuple] = []
        for page in range(start["page"], end["page"]):
            rows.extend(self._rows(page))
        return iter(rows)


def register_listing_source(spark: SparkSession) -> bool:
    """Register the connector; returns False when the Python Data
    Source API is unavailable (caller falls back to fixtures)."""
    if not _HAS_DATASOURCE_API:
        return False
    spark.dataSource.register(ListingScrapeDataSource)
    return True
