"""The Python truth the benchmark checks silver and bronze against."""

from __future__ import annotations

from datetime import datetime, timezone

from truth import check_ids, check_silver, rowset, silver_truth, valid_ids


def _f(eid, when: str, tsunami: int):
    t = datetime.fromisoformat(when).replace(tzinfo=timezone.utc)
    return {"id": eid, "properties": {"time": int(t.timestamp() * 1000), "tsunami": tsunami}}


FEATURES = [
    _f("a", "2020-01-31T23:59:59", 1),
    _f("b", "2020-02-01T00:00:01", 1),
    _f("c", "2020-02-10T12:00:00", 1),
    _f("d", "2020-02-11T12:00:00", 0),
    _f(None, "2020-02-12T12:00:00", 1),  # dropped by the parser
    _f("e", "2021-12-31T23:59:59", 1),
]


def test_silver_truth_counts_valid_tsunami_events():
    yearly, monthly = silver_truth(FEATURES)
    assert yearly == {2020: 3, 2021: 1}
    assert monthly == {(2020, 1): 1, (2020, 2): 2, (2021, 12): 1}


def test_check_silver_accepts_truth_and_flags_a_miscount():
    yearly = [{"year": 2020, "tsunami_yearly_count": 3}, {"year": 2021, "tsunami_yearly_count": 1}]
    monthly = [
        {"year": 2020, "month": 1, "tsunami_monthly_count": 1},
        {"year": 2020, "month": 2, "tsunami_monthly_count": 2},
        {"year": 2021, "month": 12, "tsunami_monthly_count": 1},
    ]
    assert check_silver(yearly, monthly, FEATURES) == []
    monthly[1] = {"year": 2020, "month": 2, "tsunami_monthly_count": 3}
    assert check_silver(yearly, monthly, FEATURES) != []


def test_check_ids_finds_duplicates_missing_and_extra():
    want = valid_ids(FEATURES)
    assert want == ["a", "b", "c", "d", "e"]
    assert check_ids(list(reversed(want)), want) == []
    problems = check_ids(["a", "a", "b", "c", "d", "zz"], want)
    assert len(problems) == 3


def test_rowset_ignores_column_and_row_order():
    left = rowset(["y", "x"], [(2, 1), (None, 3)])
    right = rowset(["x", "y"], [(3, None), (1, 2)])
    assert left == right
    assert rowset(["x"], [(float("nan"),)]) == rowset(["x"], [(float("nan"),)])
