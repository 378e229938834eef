"""Output checks, run after the timed loop.  Each returns a list of
failure descriptions (empty when the outputs are right).

- daily_close: the incrementally maintained momentum fact equals a
  full recompute by DuckDB running the package's oracle SQL
  (``oracles.momentum_core_sql``) over the same raw bars and
  constituents, column by column;
- daily_close: breadth and dim, as published, equal a rebuild from
  that fact;
- dashboard: sampled page answers served through the DSv2 views equal
  the same SQL over ``ManifestTable.read``.

Doubles compare with a relative tolerance of 1e-9: the two sides may
sum the same values in a different order (a double AVG over a
different partitioning), and any real defect moves a value far more.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from stock_market_data_pipeline_spark import oracles
from stock_market_data_pipeline_spark.models.marts import (
    agg_daily_market_breadth, dim_securities_current,
)

from pipeline import (
    BREADTH_VIEW, DIM_VIEW, PARAMS, page_query,
)

RTOL = 1e-9


def frames_differ(a: pd.DataFrame, b: pd.DataFrame, keys: list[str],
                  what: str) -> list[str]:
    """Compare two frames row by row after sorting on ``keys``."""
    if list(sorted(a.columns)) != list(sorted(b.columns)):
        return [f"{what}: columns differ: {sorted(set(a.columns) ^ set(b.columns))}"]
    if len(a) != len(b):
        return [f"{what}: {len(a)} rows vs {len(b)}"]
    a = a.sort_values(keys).reset_index(drop=True)
    b = b.sort_values(keys).reset_index(drop=True)[a.columns]
    bad = []
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            same = np.isclose(x.astype(float), y.astype(float), rtol=RTOL,
                              atol=0.0, equal_nan=True)
        else:
            same = (x == y) | (x.isna() & y.isna())
        if not bool(np.all(same)):
            n = int((~np.asarray(same)).sum())
            bad.append(f"{what}: column {c} differs in {n} rows")
    return bad


def _universe_sql(bars_glob: str) -> str:
    """int_universe_daily over the raw bars, in DuckDB: staging casts,
    dedup, point-in-time membership join, prev_close/streak windows."""
    return f"""
WITH staged AS (
  SELECT T AS ticker, CAST("DATE" AS DATE) AS trade_date,
         CAST(C AS DOUBLE) AS close, CAST(V AS BIGINT) AS volume,
         CAST(N AS BIGINT) AS n_trades
  FROM read_parquet('{bars_glob}') WHERE "DATE" IS NOT NULL
),
dedup AS (SELECT DISTINCT * FROM staged),
joined AS (
  SELECT d.*, c.company, c.sector, c.index_weight
  FROM dedup d JOIN cons c
    ON d.ticker = c.ticker
   AND d.trade_date BETWEEN c.valid_from AND c.valid_to
)
SELECT j.*,
       LAG(close) OVER w AS prev_close,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS consecutive_trading_days,
       CASE WHEN LAG(ticker) OVER w IS NULL THEN 1 ELSE 0 END
         AS is_new_to_index
FROM joined j
WINDOW w AS (PARTITION BY ticker ORDER BY trade_date)
""".strip()


def fct_matches_oracle(spark, wh) -> list[str]:
    """The materialized fact == DuckDB over the warehouse's raw bars."""
    import duckdb

    cons = wh.constituents().toPandas()
    con = duckdb.connect()
    try:
        con.register("cons", cons)
        sql = oracles.momentum_core_sql(
            PARAMS, universe_sql=_universe_sql(
                os.path.join(wh.bars_path, "*.parquet")))
        want = con.execute(f"{sql}\nSELECT * FROM t3").df()
    finally:
        con.close()
    got = wh.fct.read(spark).drop("trade_month").toPandas()
    want = want[[c for c in got.columns if c in want.columns]]
    got = got[want.columns]
    for c in want.columns:
        if pd.api.types.is_integer_dtype(got[c]):
            want[c] = want[c].astype(got[c].dtype)
    if got.empty:
        return ["fct: the materialized fact is empty"]
    return frames_differ(got, want, ["ticker", "trade_date"],
                         "fct vs DuckDB oracle")


def marts_match_rebuild(spark, wh) -> list[str]:
    """breadth and dim, as published through ``Runner``'s branches,
    == rebuilt from the fact table, which :func:`fct_matches_oracle`
    checks against a full recompute from the raw bars."""
    fct = wh.fct.read(spark)
    want = {BREADTH_VIEW: (agg_daily_market_breadth(fct, PARAMS),
                           ["trade_date"]),
            DIM_VIEW: (dim_securities_current(fct, PARAMS), ["ticker"])}
    tables = wh.tables()
    bad = []
    for view, (expect, keys) in want.items():
        bad += frames_differ(tables[view].read(spark).toPandas(),
                             expect.toPandas(), keys,
                             f"daily_close {view} vs rebuild")
    return bad


def pages_match_read(spark, tables, samples) -> list[str]:
    """Re-answer sampled pages over ``ManifestTable.read`` views."""
    names = {}
    for view, table in tables.items():
        names[view] = f"{view}_read"
        table.read(spark).createOrReplaceTempView(names[view])
    from stock_market_data_pipeline_spark import serve

    bad = []
    for i, (kind, args, (fresh, got)) in enumerate(samples):
        want_fresh = serve.data_freshness(
            spark, breadth_view=names[BREADTH_VIEW],
            dim_view=names[DIM_VIEW]).toPandas()
        want = page_query(spark, kind, args, names).toPandas()
        for what, g, w in (("freshness", fresh, want_fresh),
                           ("answer", got, want)):
            if not g.reset_index(drop=True).equals(w.reset_index(drop=True)):
                bad.append(f"dashboard page {i} ({kind} {args}) {what} "
                           f"differs from ManifestTable.read")
    if not samples:
        bad.append("dashboard: no page was sampled for checking")
    return bad
