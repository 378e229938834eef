"""The generator is a pure function of its seed and carries the input
defects the pipeline must handle.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gen import Market  # noqa: E402


def test_same_seed_same_bytes_different_seed_different_bytes():
    a = Market(7, 60, 30).fingerprint()
    assert a == Market(7, 60, 30).fingerprint()
    assert a != Market(8, 60, 30).fingerprint()


def test_panel_has_the_defects_the_pipeline_must_handle():
    m = Market(3, 400, 30)
    (snap1, from1, to1), (snap2, from2, to2) = m.snapshots()
    members = {r[0] for r in snap1} | {r[0] for r in snap2}
    rows = [r for d in m.days for r in m.rows(d.isoformat())]

    extra = {r["T"] for r in rows} - members
    assert 0.03 < len(extra) / len(members) < 0.08          # ~5% non-members
    bad = sum(1 for r in rows if not r["l"] <= r["c"] <= r["h"])
    assert 0.005 < bad / len(rows) < 0.02                   # ~1% invalid OHLC
    keys = [(r["T"], r["ts_ms"]) for r in rows]
    assert 0 < len(keys) - len(set(keys)) <= 3 * len(m.days)  # exact dups
    per_ticker: dict[str, int] = {}
    for t, _ in set(keys):
        per_ticker[t] = per_ticker.get(t, 0) + 1
    assert min(per_ticker.values()) < 10                    # short histories

    names1, names2 = {r[0] for r in snap1}, {r[0] for r in snap2}
    assert names1 - names2 and names2 - names1              # churn
    assert to1 < from2 and to2 is None                      # no overlap
    changed = {r[0]: r[2:] for r in snap1}
    assert any(changed.get(r[0], r[2:]) != r[2:] for r in snap2)
    assert all(0 <= r[3] <= 10 for r in snap1 + snap2)      # weight range


def test_calendar_and_holidays_partition_the_weekdays():
    m = Market(5, 20, 60)
    days, hol = set(m.days), set(m.holidays())
    assert not days & hol
    assert all(d.weekday() < 5 for d in days | hol)
    assert len(m.days) == 60
