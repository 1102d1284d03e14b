"""Python truth for the benchmark's output checks.

Every check here runs outside the timed sections: it compares what the
program wrote against a computation over the generated inputs.
"""

from __future__ import annotations

import math
from collections import Counter
from datetime import datetime, timezone


def _year_month(t_ms: int) -> tuple[int, int]:
    d = datetime.fromtimestamp(t_ms / 1000, tz=timezone.utc)
    return d.year, d.month


def valid_ids(features: list[dict]) -> list[str]:
    """Ids of the features the parser keeps (``drop_invalid`` removes
    null ids; the feed makes no other invalid field)."""
    return [f["id"] for f in features if f["id"] is not None]


def silver_truth(features: list[dict]) -> tuple[dict, dict]:
    """The two tsunami fact tables over the valid features:
    ``{year: count}`` and ``{(year, month): count}``."""
    yearly: Counter = Counter()
    monthly: Counter = Counter()
    for f in features:
        if f["id"] is None or f["properties"].get("tsunami") != 1:
            continue
        y, m = _year_month(f["properties"]["time"])
        yearly[y] += 1
        monthly[(y, m)] += 1
    return dict(yearly), dict(monthly)


def check_ids(landed: list[str], expected: list[str]) -> list[str]:
    """Problems with a landed id list: duplicates, missing, extra."""
    problems = []
    counts = Counter(landed)
    dups = [i for i, n in counts.items() if n > 1]
    if dups:
        problems.append(f"{len(dups)} duplicated ids, e.g. {dups[:3]}")
    want = set(expected)
    missing, extra = want - counts.keys(), counts.keys() - want
    if missing:
        problems.append(f"{len(missing)} ids missing, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{len(extra)} unexpected ids, e.g. {sorted(extra)[:3]}")
    return problems


def check_silver(yearly_rows, monthly_rows, features: list[dict]) -> list[str]:
    """Compare collected fact-table rows with :func:`silver_truth`."""
    want_y, want_m = silver_truth(features)
    got_y = {r["year"]: r["tsunami_yearly_count"] for r in yearly_rows}
    got_m = {(r["year"], r["month"]): r["tsunami_monthly_count"] for r in monthly_rows}
    problems = []
    if len(got_y) != len(yearly_rows) or got_y != want_y:
        problems.append(f"yearly fact {got_y} != truth {want_y}")
    if len(got_m) != len(monthly_rows) or got_m != want_m:
        problems.append(f"monthly fact differs from truth ({len(got_m)} vs {len(want_m)} keys)")
    return problems


# --- catalog rows against the DuckDB oracle --------------------------------


def _canon(value):
    if isinstance(value, float) and math.isnan(value):
        return "NaN"
    if hasattr(value, "isoformat"):
        return value.isoformat()
    return value


def rowset(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Rows with columns sorted by name, as a sorted multiset, so two
    engines' results compare independently of column and row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = [tuple(_canon(row[i]) for i in order) for row in rows]
    canon.sort(key=lambda r: tuple((v is None, repr(v)) for v in r))
    return [columns[i] for i in order], canon
