"""The deployment the benchmark drives: the package's public functions
called in the order the reference's Airflow DAG and Streamlit pages
call their counterparts.

- :meth:`Warehouse.build` — set-up: a bulk-loaded history, then one
  full build (universe, momentum fact, breadth, dim).
- :meth:`Warehouse.close` — one daily DAG run: ingest one date,
  incremental momentum merge, breadth/dim refresh through ``Runner``
  (write-audit-publish), recent-window fact checks.
- :func:`page` — one dashboard page view: re-register the page's
  views, freshness caption, then the page's query, collected.

Every step runs inside a tracer span named after the layer it calls;
with tracing off a span costs one attribute read.
"""

from __future__ import annotations

import os
from datetime import date

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_market_data_pipeline_spark import checks, serve
from stock_market_data_pipeline_spark.incremental import (
    incremental_momentum_run, materialize_momentum,
)
from stock_market_data_pipeline_spark.ingest.ledger import Ledger
from stock_market_data_pipeline_spark.ingest.loader import (
    FETCH_SCHEMA, append_bars, extract_load_range, normalize_rows,
)
from stock_market_data_pipeline_spark.manifest import ManifestTable
from stock_market_data_pipeline_spark.models.intermediate import (
    int_universe_daily,
)
from stock_market_data_pipeline_spark.models.marts import (
    SMALL, agg_daily_market_breadth, dim_securities_current,
)
from stock_market_data_pipeline_spark.models.staging import (
    stack_constituent_snapshots, stage_daily_stocks,
)
from stock_market_data_pipeline_spark.runner import Model, Runner

#: scaled-down indicator windows: every indicator populates within the
#: benchmark's history of a few dozen trading days
PARAMS = SMALL

UNIVERSE_COLS = ["ticker", "trade_date", "close", "volume", "n_trades",
                 "company", "sector", "index_weight", "prev_close",
                 "consecutive_trading_days", "is_new_to_index"]

#: serving-tier view names (serve.py's defaults)
FCT_VIEW, BREADTH_VIEW, DIM_VIEW = ("fct_momentum", "market_breadth",
                                    "dim_securities")

BREADTH_AUDITS = {
    "breadth_reconciles": checks.breadth_reconciles,
    "record_high_pct_reasonable": checks.record_high_pct_reasonable,
    "breadth_unique_day": lambda df: checks.unique_key(df, ["trade_date"]),
}
DIM_AUDITS = {
    "dim_unique_ticker": lambda df: checks.unique_key(df, ["ticker"]),
    "dim_ticker_not_null": lambda df: checks.not_null(df, ["ticker"]),
}
#: the fact's recent-window singular tests (the dbt-test stage)
FCT_CHECKS = (checks.yesterday_close_is_lag, checks.rsi_range_or_null,
              checks.golden_death_exclusive,
              checks.close_within_rolling_band,
              checks.sma_population_monotonic)


class Warehouse:
    """One warehouse directory and the handles a deployment keeps."""

    def __init__(self, spark: SparkSession, root: str, market, tracer):
        self.spark, self.root, self.market = spark, root, market
        self.span = tracer.span
        self.bars_path = os.path.join(root, "raw_daily_bars")
        self.fct_path = os.path.join(root, "fct_trading_momentum")
        self.fct: ManifestTable | None = None
        self._holidays = market.holidays()

    def constituents(self) -> DataFrame:
        """The two seed snapshots stacked with validity intervals."""
        snaps = []
        for rows, valid_from, valid_to in self.market.snapshots():
            df = self.spark.createDataFrame(
                rows, "ticker string, company string, sector string, "
                      "index_weight double")
            snaps.append((df, valid_from, valid_to))
        return stack_constituent_snapshots(snaps)

    # -- layers --------------------------------------------------------

    def ingest(self, first: date, last: date) -> dict:
        with self.span("ingest"):
            return extract_load_range(
                self.spark, self.root, first, last,
                holidays=self._holidays, transport=self.market.transport)

    def seed_history(self, days: list[date]) -> None:
        """Set-up only: load a history in one append instead of one
        per date — the same normalize/append/ledger calls, batched.
        The bar timestamp carries the trading date, so ``DATE`` is
        re-derived from it after the single-date stamp."""
        rows = pd.DataFrame([r for d in days
                             for r in self.market.rows(d.isoformat())],
                            columns=FETCH_SCHEMA.fieldNames())
        batch = (normalize_rows(self.spark, rows, days[0].isoformat())
                 .withColumn("DATE", F.to_date("TS")))
        append_bars(batch, self.bars_path, self.spark)
        ledger = Ledger(self.spark,
                        os.path.join(self.root, "ingestion_checkpoints"))
        for d in days:
            ledger.record(d.isoformat(), "completed")

    def universe(self) -> DataFrame:
        """int_universe_daily over every ingested bar, cached for the
        run that consumes it (caller unpersists)."""
        with self.span("models.universe"):
            staged = (stage_daily_stocks(self.spark.read.parquet(self.bars_path))
                      .withColumnRenamed("num_transactions", "n_trades"))
            u = (int_universe_daily(staged, self.constituents())
                 .select(*UNIVERSE_COLS).cache())
            u.count()
            return u

    def build_fct(self, universe: DataFrame) -> None:
        with self.span("models.fct"):
            self.fct = materialize_momentum(self.spark, universe,
                                            self.fct_path, PARAMS)

    def incremental(self, universe: DataFrame) -> None:
        with self.span("incremental"):
            incremental_momentum_run(self.spark, universe, self.fct, PARAMS)

    def publish_marts(self) -> None:
        """breadth and dim as audited Runner table models: created on
        the first run, refreshed write-audit-publish afterwards."""
        fct = self.fct
        marts = (
            ("agg_daily_market_breadth", "models.breadth",
             lambda s, _: agg_daily_market_breadth(fct.read(s), PARAMS),
             BREADTH_AUDITS),
            ("dim_securities_current", "models.dim",
             lambda s, _: dim_securities_current(fct.read(s), PARAMS),
             DIM_AUDITS),
        )
        for name, span_name, build, audits in marts:
            with self.span(span_name):
                runner = Runner(self.spark, self.root)
                runner.register(Model(name, build, "table", audits=audits))
                runner.run()

    def check_fct(self, as_of: date) -> dict[str, int]:
        """Recent-window fact checks anchored to the ingested date;
        returns violation counts (all zero when the mart is sound)."""
        with self.span("checks"):
            fct = self.fct.read(self.spark)
            return {c.__name__: c(fct, as_of).count() for c in FCT_CHECKS}

    # -- DAG runs ------------------------------------------------------

    def build(self, days: list[date]) -> None:
        """Set-up: a bulk-loaded history, then the full build (the
        fact checks run with every close instead)."""
        self.seed_history(days)
        u = self.universe()
        try:
            self.build_fct(u)
            self.publish_marts()
        finally:
            u.unpersist()

    def close(self, day: date) -> dict[str, int]:
        """One daily DAG run for a newly available trading date."""
        self.ingest(day, day)
        u = self.universe()
        try:
            self.incremental(u)
            self.publish_marts()
        finally:
            u.unpersist()
        return self.check_fct(day)

    def tables(self) -> dict[str, ManifestTable]:
        """The marts by serving view name."""
        def mart(name: str) -> ManifestTable:
            return ManifestTable(os.path.join(self.root, name), None)

        return {FCT_VIEW: ManifestTable(self.fct_path, "trade_month"),
                BREADTH_VIEW: mart("agg_daily_market_breadth"),
                DIM_VIEW: mart("dim_securities_current")}


# -- the serving tier ---------------------------------------------------

#: page kind -> the views its handler registers
PAGE_VIEWS = {
    "ticker": (FCT_VIEW, BREADTH_VIEW, DIM_VIEW),
    "screener": (DIM_VIEW, BREADTH_VIEW),
    "breadth": (BREADTH_VIEW, DIM_VIEW),
}


def page_query(spark: SparkSession, kind: str, args: dict,
               views: dict[str, str]) -> DataFrame:
    """The page's main query over the views named in ``views``."""
    if kind == "ticker":
        return serve.ticker_momentum(spark, args["ticker"], args["start"],
                                     args["end"], fct_view=views[FCT_VIEW])
    if kind == "screener":
        return serve.screener(spark, dim_view=views[DIM_VIEW], **args)
    return serve.breadth_recent(spark, args["limit"],
                                breadth_view=views[BREADTH_VIEW])


def page(spark: SparkSession, tables: dict[str, ManifestTable], kind: str,
         args: dict, tracer):
    """One page view as the serving tier's per-request handler runs it:
    re-register the page's views (picking up the newest snapshot),
    render the freshness caption, run and collect the page query."""
    span = tracer.span
    for view in PAGE_VIEWS[kind]:
        with span("manifest.register"):
            tables[view].register(spark, view)
    names = {v: v for v in PAGE_VIEWS[kind]}
    with span("serve.sql"):
        fresh = serve.data_freshness(spark)
    with span("serve.collect"):
        fresh = fresh.toPandas()
    with span("serve.sql"):
        df = page_query(spark, kind, args, names)
    with span("serve.collect"):
        return fresh, df.toPandas()
