"""Tests for the benchmark's own pieces (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from listing import Listing, ListingServer  # noqa: E402


def _history(seed: int, n_days: int = 9) -> list:
    listing = Listing(seed, n_cards=40)
    return [listing.day(i) for i in range(n_days)]


def test_listing_is_deterministic_per_seed():
    a, b = _history(7), _history(7)
    assert [(d.run_date, d.kind, [c.html() for c in d.cards], d.new_ids, d.changed_ids)
            for d in a] == \
           [(d.run_date, d.kind, [c.html() for c in d.cards], d.new_ids, d.changed_ids)
            for d in b]
    assert [d.ids for d in _history(8)] != [d.ids for d in a]


def test_ground_truth_matches_the_listing_history():
    days = _history(11)
    assert [d.kind for d in days[:4]] == list(Listing.PREFIX)
    prev_ids: set[str] = set()
    prev_date = None
    for d in days:
        if d.kind == "rerun":
            assert d.run_date == prev_date
            continue
        assert d.run_date != prev_date
        assert d.new_ids == set(d.ids) - prev_ids
        assert not d.changed_ids & d.new_ids
        if d.kind == "quiet":
            assert not d.new_ids and d.changed_ids
        if d.kind == "churn":
            assert d.new_ids and d.changed_ids
        prev_ids, prev_date = set(d.ids), d.run_date
    rerun = days[2]
    assert rerun.cards == days[1].cards and rerun.new_ids == days[1].new_ids


def test_server_serves_one_card_per_page_and_counts_gets():
    day = Listing(3, n_cards=5).day(0)
    server = ListingServer()
    try:
        server.serve(day)
        for n in (1, 5):
            with urllib.request.urlopen(f"{server.url}?page={n}", timeout=10) as r:
                assert r.read().decode() == day.cards[n - 1].html()
        assert server.stats()["gets"] == 2
        try:
            urllib.request.urlopen(f"{server.url}?page=6", timeout=10)
            raise AssertionError("page past the listing must 404")
        except urllib.error.HTTPError as exc:
            assert exc.code == 404
    finally:
        server.close()


def test_benchmark_json_declares_the_metrics_the_runner_prints():
    sys.path.insert(0, os.path.dirname(HERE))
    from metrics import END_TO_END, PER_LAYER
    from workloads import WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
