"""Traced-run wiring: spans around the package's layer entry points,
and the per-layer metrics computed from the recorded spans.

:func:`instrument` wraps public functions and methods of the ingest
and manifest layers for the life of the process, so calls the package
makes internally (``extract_load_range`` appending a date, ``Runner``
overwriting a branch) get spans too.  A wrapper on a thread whose
tracing is off calls straight through.  The DSv2 reader plans and
reads in Python worker processes, which these wrappers do not reach;
its cost shows as the Spark jobs of the page spans.
"""

from __future__ import annotations

import functools
import os
import statistics

#: manifest methods that commit a new snapshot (on main or a branch)
MANIFEST_WRITES = ("create", "merge", "overwrite", "publish_branch")
MANIFEST_METHODS = MANIFEST_WRITES + ("scan_plan", "stat_bounds",
                                      "create_branch", "drop_branch")
#: trace id of the set-up's history build (run.py traces it once)
SETUP_TRACE = "build"


def _wrap(tracer, name: str, fn, before=None, after=None, **attrs):
    """``fn`` inside a span named ``name``.  ``after(span, result,
    state)`` may add attributes once the call returned; ``state`` is
    what ``before(args)`` returned ahead of the call."""
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.on:
            return fn(*args, **kwargs)
        state = before(args) if before is not None else None
        with tracer.span(name, **attrs) as sp:
            result = fn(*args, **kwargs)
            if after is not None:
                after(sp, result, state)
            return result
    return wrapper


def _plan_attrs(sp, plan, state) -> None:
    sp.attrs["files"] = len(plan["files"])
    sp.attrs["skipped"] = int(plan.get("skipped", 0))


def _parquet_files(path: str) -> int:
    """Data files in a bars directory (none before its first append)."""
    if not os.path.isdir(path):
        return 0
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))


def _files_before(args) -> tuple:
    return args[1], _parquet_files(args[1])


def _append_attrs(sp, rows, state) -> None:
    """Data files this append added to the bars directory."""
    path, before = state
    sp.attrs["files"] = _parquet_files(path) - before


def instrument(tracer) -> None:
    """Install span wrappers on the ingest and manifest layers."""
    from stock_market_data_pipeline_spark.ingest import loader
    from stock_market_data_pipeline_spark.ingest.ledger import Ledger
    from stock_market_data_pipeline_spark.manifest import ManifestTable

    loader.append_bars = _wrap(tracer, "ingest.append", loader.append_bars,
                               before=_files_before, after=_append_attrs)
    for attr, name in (("normalize_rows", "ingest.normalize"),
                       ("fetch_with_retry", "ingest.fetch"),
                       ("trading_days", "ingest.calendar")):
        setattr(loader, attr, _wrap(tracer, name, getattr(loader, attr)))
    for attr in ("record", "completed_dates"):
        setattr(Ledger, attr, _wrap(tracer, "ingest.ledger",
                                    getattr(Ledger, attr), op=attr))
    for attr in MANIFEST_METHODS:
        raw = ManifestTable.__dict__[attr]
        after = _plan_attrs if attr == "scan_plan" else None
        if isinstance(raw, classmethod):
            wrapped = classmethod(_wrap(tracer, f"manifest.{attr}",
                                        raw.__func__, after=after))
        else:
            wrapped = _wrap(tracer, f"manifest.{attr}", raw, after=after)
        setattr(ManifestTable, attr, wrapped)


# -- metrics ---------------------------------------------------------------

def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(spans, lat, traced, kinds, setup: dict,
                  files_live: int, rss_mb: float) -> dict:
    """Per-layer metrics of one traced run.  ``spans`` are span dicts
    (or Span objects); ``lat``/``traced``/``kinds`` describe every
    timed operation, traced or not.  Times and counts are per traced
    operation (one close or page) unless the name says per date or per
    page; ``models.fct.*`` and ``manifest.create_s``, which only the
    full build calls, are per set-up build (the spans of trace
    ``build``)."""
    every = [s if isinstance(s, dict) else s.__dict__ for s in spans]
    build = [s for s in every if s["trace"] == SETUP_TRACE]
    sp = [s for s in every if s["trace"] != SETUP_TRACE]
    n_builds = max(1, sum(1 for s in build if s["parent"] is None))
    roots = [s for s in sp if s["parent"] is None]
    n_ops = max(1, len(roots))
    pages = [r for r in roots if r["name"] == "page"]

    def named(*names, among=sp):
        return [s for s in among if s["name"] in names]

    def dur(*names, among=sp) -> float:
        return sum(s["end"] - s["start"] for s in named(*names, among=among))

    def tot(key: str, *names, among=sp) -> float:
        return sum(s["total"].get(key, 0)
                   for s in named(*names, among=among))

    def per_op(x: float) -> float:
        return x / n_ops

    appends = named("ingest.append")
    dates = len(appends)
    files = (sum(s["attrs"].get("files", 0) for s in appends)
             + sum(1 for s in named("ingest.ledger")
                   if s["attrs"].get("op") == "record"))
    m = {
        "ingest.s": (per_op(dur("ingest")), "s"),
        "ingest.append_s": (per_op(dur("ingest.append")), "s"),
        "ingest.ledger_s": (per_op(dur("ingest.ledger")), "s"),
        "ingest.jobs_per_date": (_ratio(tot("jobs", "ingest"), dates),
                                 "count"),
        "ingest.files_per_date": (
            _ratio(files, dates), "count"),
    }
    for model in ("universe", "fct", "breadth", "dim"):
        name = f"models.{model}"
        among, per = ((build, lambda x: x / n_builds) if model == "fct"
                      else (sp, per_op))
        m[f"{name}.cpu_s"] = (per(tot("cpu_s", name, among=among)), "s")
        m[f"{name}.shuffle_bytes"] = (
            per(tot("shuffle_write_bytes", name, among=among)), "bytes")
        m[f"{name}.tasks"] = (per(tot("tasks", name, among=among)),
                              "count")
    inc = named("incremental")
    m.update({
        "incremental.s": (per_op(dur("incremental")), "s"),
        "incremental.driver_s": (
            per_op(sum(s["driver_only_s"] for s in inc)), "s"),
        "incremental.cpu_s": (per_op(tot("cpu_s", "incremental")), "s"),
        "incremental.shuffle_bytes": (
            per_op(tot("shuffle_write_bytes", "incremental")), "bytes"),
        "incremental.rows_written": (
            per_op(tot("output_records", "incremental")), "count"),
    })
    m["manifest.create_s"] = (
        dur("manifest.create", among=build) / n_builds, "s")
    for op in ("merge", "overwrite", "scan_plan", "stat_bounds", "register"):
        m[f"manifest.{op}_s"] = (per_op(dur(f"manifest.{op}")), "s")
    writes = [f"manifest.{w}" for w in MANIFEST_WRITES]
    plans = named("manifest.scan_plan")
    kept = sum(s["attrs"].get("files", 0) for s in plans)
    skipped = sum(s["attrs"].get("skipped", 0) for s in plans)
    m.update({
        "manifest.commits": (per_op(len(named(*writes))), "count"),
        "manifest.files_live": (files_live, "count"),
        "manifest.write_amp": (
            _ratio(tot("output_bytes", "manifest.merge",
                       "manifest.overwrite"),
                   tot("output_bytes", "ingest.append")), "ratio"),
        "manifest.skip_ratio": (_ratio(skipped, kept + skipped), "ratio"),
        "datasource.tasks_per_page": (
            _ratio(sum(p["total"]["tasks"] for p in pages), len(pages)),
            "count"),
        "datasource.run_s_per_page": (
            _ratio(sum(p["total"]["run_s"] for p in pages), len(pages)),
            "s"),
    })
    publish = named("models.breadth", "models.dim")
    m.update({
        "runner.publish_s": (per_op(dur("models.breadth", "models.dim")),
                             "s"),
        "checks.audit_s": (
            per_op(sum(s["self_s"] for s in publish) + dur("checks")), "s"),
        "checks.audit_jobs": (
            per_op(sum(s["own"].get("jobs", 0) for s in publish)
                   + tot("jobs", "checks")), "count"),
    })
    plain = [(k, x) for x, t, k in zip(lat, traced, kinds) if not t]
    for kind in ("ticker", "screener", "breadth"):
        m[f"serve.{kind}_page_s.p50"] = (
            _median([x for k, x in plain if k == kind]), "s")
    m.update({
        "serve.sql_s": (_ratio(dur("serve.sql"), len(pages)), "s"),
        "serve.collect_s": (_ratio(dur("serve.collect"), len(pages)), "s"),
        "setup.session_s": (setup["session_s"], "s"),
        "setup.history_s": (setup["history_s"], "s"),
        "spark.jobs": (per_op(sum(r["total"]["jobs"] for r in roots)),
                       "count"),
        "spark.tasks": (per_op(sum(r["total"]["tasks"] for r in roots)),
                        "count"),
        "spark.cpu_s": (per_op(sum(r["total"]["cpu_s"] for r in roots)),
                        "s"),
        "spark.gc_s": (per_op(sum(r["total"]["gc_s"] for r in roots)), "s"),
        "spark.driver_only_s": (
            per_op(sum(r["driver_only_s"] for r in roots)), "s"),
        "mem.peak_rss_mb": (rss_mb, "MB"),
        "trace.overhead_frac": (
            _ratio(_median([x for x, t in zip(lat, traced) if t]),
                   _median([x for _, x in plain])) - 1.0
            if plain else 0.0, "ratio"),
        "trace.uncovered_frac": (
            _ratio(sum(r["self_s"] for r in roots),
                   sum(r["end"] - r["start"] for r in roots)), "ratio"),
    })
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
