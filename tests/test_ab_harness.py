"""tools/ab.py's protocol functions (pure Python, no JVM): sides
alternate within pairs, ties count for neither side, and the summary
statistics are right."""

from __future__ import annotations

import pytest

from tools.ab import _parse, _sides, pair_order, summarize


def test_sides_alternate_per_pair():
    order = [pair_order(i) for i in range(4)]
    assert order == [("A", "B"), ("B", "A"), ("A", "B"), ("B", "A")]
    # every pair runs each side exactly once
    assert all(sorted(p) == ["A", "B"] for p in order)


def test_summary_counts_wins_and_ignores_ties():
    a = [1.0, 2.0, 3.0, 4.0]
    b = [2.0, 2.0, 1.0, 5.0]
    s = summarize(a, b)
    assert s["A"]["wins"] == 2  # pairs 1 and 4
    assert s["B"]["wins"] == 1  # pair 3; pair 2 is a tie
    assert s["A"]["min"] == 1.0 and s["B"]["min"] == 1.0


def test_summary_median_odd_and_even():
    assert summarize([3.0, 1.0, 2.0], [1.0, 1.0, 1.0])["A"]["median"] == 2.0
    assert summarize([4.0, 1.0, 3.0, 2.0], [0.0] * 4)["A"]["median"] == 2.5


def test_summary_rejects_unpaired_times():
    with pytest.raises(ValueError):
        summarize([1.0, 2.0], [1.0])
    with pytest.raises(ValueError):
        summarize([], [])


def test_knob_sides_parse():
    sides = _sides(_parse(["--knob", "EMAP_BATCH_AQE=off,unset", "--lane", "adt"]))
    assert sides["A"][2] == {"EMAP_BATCH_AQE": "off"}
    assert sides["B"][2] == {"EMAP_BATCH_AQE": None}  # unset removes the var
    with pytest.raises(SystemExit):
        _sides(_parse(["--knob", "EMAP_BATCH_AQE=off", "--lane", "adt"]))


def test_parse_lane_needs_no_sf_dir(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    args = _parse(["--tree", "../parent", "--lane", "parse"])
    assert args.lane == "parse" and args.sf_dir is None
    # a query lane still insists on a scale-factor dir
    with pytest.raises(SystemExit):
        _parse(["--tree", "../parent", "--lane", "q01_pricing_summary"])


def test_locations_lane_needs_no_sf_dir(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    args = _parse(["--tree", "../parent", "--lane", "locations", "--pairs", "3"])
    assert args.lane == "locations" and args.sf_dir is None and args.pairs == 3
