"""Seeded market generator shaped like the Polygon grouped-daily
response (FIXTURES.md F1) and the index-constituent snapshots (F2).

One seed fixes the whole panel: the trading calendar, every ticker's
bars on every date, and the constituent snapshots.  The pipeline sees
only what :meth:`Market.transport` returns for a date and the rows
:meth:`Market.snapshots` describes, exactly like a deployment
sees Polygon and the seed CSVs.

What the panel contains besides clean member bars:
- ~5% non-member tickers (the as-of membership join must drop them);
- ~1% rows whose close lies above the high (``is_valid_record = 0``);
- a few exact duplicate rows per date (the defensive dedup);
- tickers with short histories (delisted early), so window NULL-guards
  fire;
- two constituent snapshots with churn: members dropped, members
  added, and sector/weight changes between them.
"""

from __future__ import annotations

import hashlib
import json
from datetime import date, timedelta

import numpy as np

from stock_market_data_pipeline_spark.ingest.source import Response

SECTORS = ["Technology", "Health Care", "Financials", "Industrials",
           "Consumer Discretionary", "Consumer Staples", "Energy",
           "Utilities", "Materials", "Real Estate",
           "Communication Services"]

#: the calendar starts here; holidays are drawn from the seed
START = date(2024, 1, 2)


class Market:
    """The generated market for one seed.

    ``members`` universe tickers and ~5% non-members, ``n_days``
    trading days.  The two snapshots split the calendar at
    ``split_day`` (an index into :attr:`days`)."""

    def __init__(self, seed: int, members: int, n_days: int,
                 split_day: int = 10):
        rng = np.random.default_rng(seed)
        self.seed = seed
        self.days = _calendar(rng, n_days)
        self.split_day = split_day
        n_extra = max(1, members // 20)            # non-members, ~5%
        n_churn = max(1, members // 30)            # added in snapshot 2
        n = members + n_churn + n_extra
        self.tickers = [f"T{i:05d}" for i in range(n)]
        self._members1 = list(range(members))
        dropped = set(rng.choice(members, n_churn, replace=False).tolist())
        self._members2 = ([i for i in range(members) if i not in dropped]
                          + list(range(members, members + n_churn)))
        # last trading day per ticker: ~4% delist within the first
        # weeks (short histories: their window indicators stay NULL).
        # Nobody lists late: a first bar inside the checks' recent
        # window breaks breadth_reconciles, as it would on real data.
        self._last = np.where(rng.random(n) < 0.04,
                              rng.integers(3, 25, n), n_days)
        self._sector = rng.integers(0, len(SECTORS), n)
        self._sector2 = np.where(rng.random(n) < 0.05,
                                 rng.integers(0, len(SECTORS), n),
                                 self._sector)
        self._weight = np.round(rng.random(n) * 2.0, 6)
        self._weight2 = np.where(rng.random(n) < 0.2,
                                 np.round(rng.random(n) * 2.0, 6),
                                 self._weight)
        # prices: idiosyncratic random walk plus a small market factor,
        # in cents so every price is exact at 2 decimals.  The factor
        # stays small: record_high_pct_reasonable allows 30% of the
        # market at its rolling high, a bound set for 52-week highs
        # that 15-row windows reach on a strong market week (at 0.001
        # no seed of 1-300 exceeds 26% over 110 days)
        market = rng.normal(0.0, 0.001, n_days)
        rets = rng.normal(0.0, 0.02, (n_days, n)) + market[:, None]
        base = rng.uniform(5.0, 400.0, n)
        self._close = np.maximum(
            np.round(base * np.exp(np.cumsum(rets, axis=0)), 2), 1.0)
        self._open = np.maximum(np.round(
            self._close * (1 + rng.normal(0, 0.006, (n_days, n))), 2), 1.0)
        hi_pad = np.abs(rng.normal(0, 0.008, (n_days, n)))
        lo_pad = np.abs(rng.normal(0, 0.008, (n_days, n)))
        top = np.maximum(self._open, self._close)
        bot = np.minimum(self._open, self._close)
        self._high = np.round(top * (1 + hi_pad), 2)
        self._low = np.maximum(np.round(bot * (1 - lo_pad), 2), 0.5)
        # ~1% invalid OHLC rows: the reported high is below the close
        bad = rng.random((n_days, n)) < 0.01
        self._high = np.where(bad, np.round(self._close - 0.01, 2),
                              self._high)
        self._volume = rng.integers(1_000, 5_000_000, (n_days, n))
        self._trades = rng.integers(1, 50_000, (n_days, n))
        # a few exact duplicate rows per date
        self._dups = rng.integers(0, n, (n_days, 3))
        self._index = {d.isoformat(): k for k, d in enumerate(self.days)}

    # -- the source the ingest layer fetches from ---------------------

    def rows(self, api_date: str) -> list[dict]:
        """The grouped-daily payload for one trading date."""
        k = self._index[api_date]
        ts_ms = int((self.days[k] - date(1970, 1, 1)).days) * 86_400_000
        out = []
        for i, t in enumerate(self.tickers):
            if self._last[i] < k:
                continue
            o, c = float(self._open[k, i]), float(self._close[k, i])
            out.append({
                "T": t, "o": o, "c": c,
                "h": float(self._high[k, i]), "l": float(self._low[k, i]),
                "v": float(self._volume[k, i]),
                "vw": round((o + c) / 2.0, 4),
                "n": int(self._trades[k, i]),
                "ts_ms": ts_ms,
            })
        listed = len(out)
        out += [dict(out[int(j)]) for j in self._dups[k] if j < listed]
        return out

    def holidays(self) -> list[date]:
        """Weekdays inside the calendar that are not trading days —
        the holiday list ``extract_load_range`` plans around."""
        live, out, d = set(self.days), [], self.days[0]
        while d <= self.days[-1]:
            if d.weekday() < 5 and d not in live:
                out.append(d)
            d += timedelta(days=1)
        return out

    def transport(self, api_date: str) -> Response:
        """``extract_load_range(transport=...)``: HTTP 200 + rows."""
        return Response(200, self.rows(api_date))

    # -- the constituents seed ----------------------------------------

    def snapshots(self) -> list[tuple]:
        """Both seed snapshots as (rows, valid_from, valid_to), rows
        being (ticker, company, sector, index_weight); ``valid_to``
        None is the open interval.  Intervals are inclusive and do not
        overlap."""
        split = self.days[self.split_day]

        def rows(members, sector, weight):
            return [(self.tickers[i], f"Company {self.tickers[i]}",
                     SECTORS[sector[i]], float(weight[i])) for i in members]

        return [(rows(self._members1, self._sector, self._weight),
                 START - timedelta(days=365), split - timedelta(days=1)),
                (rows(self._members2, self._sector2, self._weight2),
                 split, None)]

    def fingerprint(self) -> str:
        """sha256 over every byte the pipeline can receive: all
        payloads in calendar order plus the constituent rows."""
        h = hashlib.sha256()
        for d in self.days:
            h.update(json.dumps(self.rows(d.isoformat()),
                                sort_keys=True).encode())
        h.update(json.dumps(self.snapshots(), default=str).encode())
        return h.hexdigest()


def _calendar(rng: np.random.Generator, n_days: int) -> list[date]:
    """Weekdays from :data:`START`, minus ~1 seeded holiday a month."""
    days, d = [], START
    while len(days) < n_days:
        if d.weekday() < 5 and rng.random() >= 0.05:
            days.append(d)
        d += timedelta(days=1)
    return days
