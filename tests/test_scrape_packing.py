"""Spark-free checks of how the listing-scrape reader plans its scan:
pages pack into at most one partition per core, as contiguous,
ascending, near-equal runs; and of the core count those partitions
follow."""

from __future__ import annotations

import os

import pytest

from aiesec_guc_spark.session import default_parallelism
from aiesec_guc_spark.sources import listing_scrape
from aiesec_guc_spark.sources.listing_scrape import ListingScrapeReader


@pytest.mark.parametrize("cores", [1, 4, 32])
@pytest.mark.parametrize("n_pages", [1, 3, 4, 5, 443])
def test_pages_pack_into_contiguous_runs_per_core(monkeypatch, cores, n_pages):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cores))
    reader = ListingScrapeReader({"base_url": "http://unused", "pages": str(n_pages)})
    runs = [p.value for p in reader.partitions()]

    assert [page for run in runs for page in run] == list(range(1, n_pages + 1))
    assert all(run for run in runs)
    assert len(runs) == min(cores, n_pages)
    sizes = [len(run) for run in runs]
    assert max(sizes) - min(sizes) <= 1


def test_fixture_pages_pack_the_same_way(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    runs = [p.value for p in ListingScrapeReader().partitions()]
    assert runs == [[1], [2, 3]]


def test_zero_pages_plan_nothing_and_read_nothing(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    reader = ListingScrapeReader({"base_url": "http://unused", "pages": "0"})
    assert reader.partitions() == []
    # Spark runs an empty plan as a single read(None).
    assert list(reader.read(None)) == []

    monkeypatch.setattr(listing_scrape, "_fixture_pages", lambda: {})
    assert ListingScrapeReader().partitions() == []


def test_read_fetches_its_run_in_page_order(monkeypatch):
    calls = []

    def fake_fetch(page_id, base_url, timeout, fetcher):
        calls.append(page_id)
        return [f"a{page_id}", f"b{page_id}"]

    monkeypatch.setattr(listing_scrape, "_fetch", fake_fetch)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    reader = ListingScrapeReader({"base_url": "http://unused", "pages": "5"})
    first, second = reader.partitions()
    assert list(reader.read(second)) == [
        (3, "a3"), (3, "b3"), (4, "a4"), (4, "b4"), (5, "a5"), (5, "b5"),
    ]
    assert calls == [3, 4, 5]


def test_default_parallelism_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert default_parallelism() == 7


def test_default_parallelism_falls_back_to_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    if hasattr(os, "sched_getaffinity"):
        assert default_parallelism() == len(os.sched_getaffinity(0))
        monkeypatch.delattr(os, "sched_getaffinity")
    monkeypatch.setattr(os, "cpu_count", lambda: 3)
    assert default_parallelism() == 3
