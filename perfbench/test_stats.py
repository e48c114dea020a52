"""Tests of the benchmark's metric arithmetic on synthetic inputs.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


def test_tail_picks_highest_percentile_with_ten_beyond():
    values = [float(i) for i in range(1, 101)]  # 100 samples
    t = stats.tail(values)
    # p90 has exactly 10 samples above rank 90; p95 has only 5
    assert t == {"pct": 90.0, "value": 90.0, "n": 100}


def test_tail_uses_p99_when_the_sample_supports_it():
    values = [float(i) for i in range(1, 1001)]
    assert stats.tail(values) == {"pct": 99.0, "value": 990.0, "n": 1000}


def test_tail_omitted_with_too_few_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([1.0] * 20)["pct"] == 50.0


def test_fail_frac():
    assert stats.fail_frac(0, 12) == 0.0
    assert stats.fail_frac(3, 12) == 0.25
    with pytest.raises(ValueError):
        stats.fail_frac(0, 0)


def test_self_time_counts_overlapping_children_once():
    # parent 0..10; two concurrent children 2..6 and 4..8 cover 2..8
    assert stats.self_time(0, 10, [(2, 6), (4, 8)]) == pytest.approx(4.0)
    # a child sticking out of the parent is clipped to it
    assert stats.self_time(0, 10, [(8, 12)]) == pytest.approx(8.0)
    assert stats.self_time(0, 10, []) == pytest.approx(10.0)


def _span(name, start, end, parent):
    return {"name": name, "start": start, "end": end, "parent": parent}


def test_attribution_adds_up_to_wall_with_concurrent_children():
    spans = {
        0: _span("flatten_api.build", 1.0, 3.0, None),
        1: _span("sources.read", 1.5, 2.0, 0),
        2: _span("sinks.csv_exact", 4.0, 8.0, None),
        3: _span("sinks.csv_merged", 5.0, 9.0, None),
    }
    share = tracing.attribute(spans, 0.0, 10.0)
    assert sum(share.values()) == pytest.approx(10.0)
    # a span without concurrent children keeps its self time by the union
    # rule: 2 s minus the 0.5 s child
    assert share["flatten_api.build"] == pytest.approx(
        stats.self_time(1.0, 3.0, [(1.5, 2.0)]))
    assert share["flatten_api.build"] == pytest.approx(1.5)
    assert share["sources.read"] == pytest.approx(0.5)
    # 4..5 and 8..9 alone, 5..8 shared by the two writers
    assert share["sinks.csv_exact"] == pytest.approx(1.0 + 1.5)
    assert share["sinks.csv_merged"] == pytest.approx(1.0 + 1.5)
    # 0..1, 3..4 and 9..10 have no span open
    assert share["unattributed"] == pytest.approx(3.0)


def test_row_digest_ignores_row_order_and_keeps_duplicates():
    a = check.row_digest([(1, "x", 2.5), (2, "y", None)])
    b = check.row_digest([(2, "y", None), (1, "x", 2.5)])
    assert a == b and a[0] == 2
    assert check.row_digest([(1,), (1,)]) != check.row_digest([(1,)])
    # an integral double and an integer hash the same, as across engines
    assert check.row_digest([(3.0,)]) == check.row_digest([(3,)])


def test_flatten_check_reports_count_and_header_mismatches(tmp_path):
    import sqlite3

    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    (csv_dir / "main.csv").write_text("_link,id\n0,0\n1,1\n")
    headers = {"main": ["_link", "id"]}
    db = tmp_path / "sqlite.db"
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE main (_link TEXT, id INTEGER)")
    con.executemany("INSERT INTO main VALUES (?, ?)", [("0", 0), ("1", 1)])
    con.commit()
    con.close()
    assert check.check_flatten_output(str(tmp_path), {"main": 2}, headers,
                                      sqlite_path=str(db)) == []
    problems = check.check_flatten_output(
        str(tmp_path), {"main": 3}, {"main": ["_link", "name"]},
        sqlite_path=str(db))
    assert len(problems) == 3  # header, csv rows, sqlite rows
