#!/usr/bin/env python3
"""Pipeline benchmark: one seeded, single-process driver over the
package's public functions.

    python3 perfbench/run.py --workload {daily_close,dashboard}
        --seed N --seconds S --trace {0,1}

Run from the repository root.  It builds a warehouse under
``.bench_work/`` from generated inputs, measures closed-loop operations
for ``--seconds``, checks the outputs outside the timed region, and
prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the set-up's history build is traced, operations
alternate traced/untraced, spans go to
``.bench_work/trace-<workload>-<seed>.jsonl`` and the metrics are the
per-layer ones (see README.md).  The lines before it repeat the
metrics under the workload's own names; progress goes to stderr.  The
exit status is non-zero when an operation failed or a check found a
wrong answer.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from datetime import date

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: universe size and depths: small enough that a run (session start,
#: set-up, timed loop, checks) takes about a minute on 4 cores, since
#: fixed per-job overhead rather than data volume sets the cost here.
#: 20 days cover the SMALL indicator windows (15 rows at most).
MEMBERS = 300
HISTORY_DAYS = 20          # daily_close / dashboard history
MARKET_DAYS = 110          # generated calendar: history, then closes
#: closes per timed loop: a close takes 13-16 s here, so a run times
#: one (README: how the run length was chosen); a traced run times two,
#: the first traced and the second not, for trace.overhead_frac
MIN_CLOSES = 1
#: dashboard page kinds, cycled in a fixed order; one cycle is a visit,
#: the dashboard's operation (page arguments are what the seed draws)
PAGE_MIX = ("ticker", "screener", "breadth")
MIN_CYCLES = 4             # PAGE_MIX cycles per dashboard timed loop
CHECK_PAGES = 4            # dashboard pages re-answered by the check

WORKLOADS = ("daily_close", "dashboard")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# -- environment ----------------------------------------------------------

def start_spark(work: str):
    """A local[4] session whose scratch space lives under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM started from here (launcher and driver) keeps its temp
    # and perf-data files out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # Python workers (the DSv2 reader) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from stock_market_data_pipeline_spark.session import get_spark

    return get_spark("perfbench", master="local[4]", extra_conf={
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": "4",
        "spark.local.dir": tmp,
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()           # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def live_files(wh) -> list[dict]:
    """File entries of the marts' current snapshots, read from their
    manifests (no Spark job)."""
    return [e for t in wh.tables().values()
            for entries in t.manifest()["partitions"].values()
            for e in entries]


def space_amp(wh) -> float:
    """Bytes on disk under the warehouse per byte of live data: the
    marts' current snapshots plus the raw bars and ledger (plain
    parquet directories whose every data file is live)."""
    live = sum(int(e["bytes"]) for e in live_files(wh))
    for d in (wh.bars_path, os.path.join(wh.root, "ingestion_checkpoints")):
        live += sum(os.path.getsize(os.path.join(d, f))
                    for f in os.listdir(d) if f.endswith(".parquet"))
    return dir_bytes(wh.root) / live


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the driver JVM."""
    total = 0
    pids = [os.getpid(), int(spark._jvm.ProcessHandle.current().pid())]
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


# -- the timed loops -------------------------------------------------------

class Outcome:
    """Per-operation wall times and failures of one timed loop.
    ``lat`` holds one entry per close or page, ``ops`` one per
    operation as ``op_s.p50`` counts them: a close, or a visit of
    ``PAGE_MIX``'s pages."""

    def __init__(self):
        self.lat: list[float] = []
        self.ops: list[float] = []
        self.traced: list[bool] = []
        self.kinds: list[str] = []
        self.failed = 0
        self.wall = 0.0
        self.space_amp = 0.0
        self.started: dict[str, int] = {}

    def add(self, dt: float, traced: bool, kind: str, ok: bool) -> None:
        self.lat.append(dt)
        self.traced.append(traced)
        self.kinds.append(kind)
        self.failed += 0 if ok else 1


def timed_op(out: Outcome, tracer, trace_mode: bool, kind: str, root: str,
             trace_id: str, fn) -> object:
    """Run ``fn`` as one operation: when tracing, alternate traced and
    untraced operations of each kind, so both halves hold the same page
    mix; record wall time and whether it failed."""
    traced = False
    if trace_mode:
        n = out.started[kind] = out.started.get(kind, 0) + 1
        traced = n % 2 == 1
    t0 = time.perf_counter()
    ok, result = True, None
    with tracer.enabled(traced):
        try:
            with tracer.span(root, trace=trace_id, kind=kind):
                result = fn()
        except Exception as exc:          # one failed op must not end the run
            ok = False
            log(f"{root} {trace_id} FAILED: {exc!r:.500}")
    dt = time.perf_counter() - t0
    if ok and isinstance(result, dict) and any(result.values()):
        ok = False
        log(f"{root} {trace_id} check violations: {result}")
    out.add(dt, traced, kind, ok)
    return result if ok else None


def build_history(ctx):
    """The set-up's history build.  A traced run traces it too, under
    a root span of its own, so that the layers only a full build calls
    (``models.fct``, ``manifest.create``) get their spans."""
    from layers import SETUP_TRACE
    from pipeline import Warehouse

    tracer = ctx["tracer"]
    wh = Warehouse(ctx["spark"], ctx["wh_dir"]("history"), ctx["market"],
                   tracer)
    with tracer.enabled(ctx["trace"]):
        with tracer.span("build", trace=SETUP_TRACE):
            wh.build(ctx["market"].days[:HISTORY_DAYS])
    return wh


def run_daily_close(ctx) -> Outcome:
    import verify

    spark, market, tracer = ctx["spark"], ctx["market"], ctx["tracer"]
    days = market.days
    t0 = time.perf_counter()
    wh = build_history(ctx)
    ctx["setup_s"] = time.perf_counter() - t0

    out = Outcome()
    deadline = time.perf_counter() + ctx["seconds"]
    t_start = time.perf_counter()
    k, min_closes = 0, MIN_CLOSES + int(ctx["trace"])
    while k < min_closes or time.perf_counter() < deadline:
        day = days[HISTORY_DAYS + k]
        timed_op(out, tracer, ctx["trace"], "close", "close",
                 day.isoformat(), lambda: wh.close(day))
        k += 1
    out.wall = time.perf_counter() - t_start
    out.ops = out.lat
    out.space_amp = space_amp(wh)
    ctx["verify"] = lambda: (verify.fct_matches_oracle(spark, wh)
                             + verify.marts_match_rebuild(spark, wh))
    ctx["wh"] = wh
    return out


def page_plan(seed: int, market):
    """Endless page stream: the fixed kind cycle
    with seeded screener filters, Zipf ticker popularity and date
    ranges biased to recent dates."""
    from gen import SECTORS

    rng = random.Random(seed)
    members = [t for t, *_ in market.snapshots()[1][0]]
    weights = [1.0 / (i + 1) ** 1.1 for i in range(len(members))]
    order = members[:]
    rng.shuffle(order)
    last = market.days[HISTORY_DAYS - 1]
    for kind in itertools.cycle(PAGE_MIX):
        if kind == "ticker":
            end = last.toordinal() - int(rng.expovariate(1 / 3))
            span = rng.choice((5, 10, 20, 40))
            args = {"ticker": rng.choices(order, weights)[0],
                    "start": date.fromordinal(end - span).isoformat(),
                    "end": date.fromordinal(end).isoformat()}
        elif kind == "screener":
            args = {"rsi_lo": rng.choice((0.0, 20.0, 30.0)),
                    "rsi_hi": rng.choice((70.0, 80.0, 100.0)),
                    "sectors": (None if rng.random() < 0.5 else
                                rng.sample(SECTORS, rng.randint(1, 3))),
                    "min_return": rng.choice((-1.0, -0.05, 0.0)),
                    "limit": rng.choice((100, 200, 500))}
        else:
            args = {"limit": rng.choice((30, 60))}
        yield kind, args


def run_dashboard(ctx) -> Outcome:
    """Closed loop: one client takes the next page of one seeded stream
    when its last page returned, in whole visits (``PAGE_MIX`` cycles),
    until ``--seconds`` have passed and ``MIN_CYCLES`` visits ran."""
    import verify
    from pipeline import page

    spark, market, tracer = ctx["spark"], ctx["market"], ctx["tracer"]
    t0 = time.perf_counter()
    wh = build_history(ctx)
    tables = wh.tables()
    # one page before the clock starts, a ticker page, which registers
    # every view: the datasource registration and the first DSv2 plan
    # start the session's Python planner and workers
    kind, args = next(page_plan(ctx["seed"] + 1, market))
    page(spark, tables, kind, args, tracer)
    ctx["setup_s"] = time.perf_counter() - t0

    out = Outcome()
    out.space_amp = space_amp(wh)
    plan = page_plan(ctx["seed"], market)
    samples: list[tuple] = []
    deadline = time.perf_counter() + ctx["seconds"]
    t_start = time.perf_counter()
    n = 0
    while n < MIN_CYCLES * len(PAGE_MIX) or n % len(PAGE_MIX) or \
            time.perf_counter() < deadline:
        kind, args = next(plan)
        res = timed_op(out, tracer, ctx["trace"], kind, "page", f"page{n}",
                       lambda: page(spark, tables, kind, args, tracer))
        n += 1
        if res is not None and n % 4 == 1 and len(samples) < CHECK_PAGES:
            samples.append((kind, args, res))
    out.wall = time.perf_counter() - t_start
    out.ops = [sum(out.lat[i:i + len(PAGE_MIX)])
               for i in range(0, n, len(PAGE_MIX))]
    log("page s: " + " ".join(f"{k[0]}{dt:.2f}"
                              for k, dt in zip(out.kinds, out.lat)))
    ctx["verify"] = lambda: verify.pages_match_read(spark, tables, samples)
    ctx["wh"] = wh
    return out


RUNNERS = {"daily_close": run_daily_close, "dashboard": run_dashboard}


# -- entry point -------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    # fail before any work when the package is not beside the benchmark
    import stock_market_data_pipeline_spark  # noqa: F401

    from gen import Market
    from spans import Tracer

    work = os.path.join(os.getcwd(), ".bench_work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark)
        if a.trace:
            from layers import instrument
            instrument(tracer)
        market = Market(a.seed, MEMBERS, MARKET_DAYS)
        ctx = {"spark": spark, "market": market, "tracer": tracer,
               "seconds": a.seconds, "seed": a.seed, "trace": bool(a.trace),
               "wh_dir": lambda name: os.path.join(work, name)}
        out = RUNNERS[a.workload](ctx)
        setup = {"session_s": session_s, "history_s": ctx["setup_s"]}
        log(f"{a.workload}: {len(out.lat)} ops in {out.wall:.2f}s, "
            f"{out.failed} failed; set-up {ctx['setup_s']:.2f}s after "
            f"a {session_s:.2f}s session start")
        t0 = time.perf_counter()
        wrong = ctx["verify"]()
        log(f"checks {time.perf_counter() - t0:.2f}s, {len(wrong)} failed")
        for w in wrong:
            log(f"CHECK FAILED: {w}")
        attempted = len(out.lat)
        failed = min(attempted, out.failed + len(wrong))
        if a.trace:
            from layers import layer_metrics
            stem = os.path.join(os.getcwd(), ".bench_work",
                                f"trace-{a.workload}-{a.seed}")
            tracer.dump(stem + ".jsonl")
            files_live = len(live_files(ctx["wh"]))
            metrics = layer_metrics(tracer.spans, out.lat, out.traced,
                                    out.kinds, setup, files_live,
                                    peak_rss_mb(spark))
            metrics["failed_frac"] = {"value": failed / attempted,
                                      "unit": "ratio"}
            with open(stem + ".metrics.json", "w") as fh:
                json.dump(metrics, fh, indent=1)
            log(f"trace written to {os.path.relpath(stem)}.jsonl")
        else:
            metrics = end_to_end(a.workload, out, setup)
            summarize(a.workload, out, setup, failed, attempted)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


def end_to_end(workload: str, out: Outcome, setup: dict) -> dict:
    """The contract metrics, every one defined on every workload:
    ``op_s.p50`` is one daily close or one dashboard visit (one page of
    each kind in turn)."""
    return {
        "setup_s": {"value": setup["session_s"] + setup["history_s"],
                    "unit": "s"},
        "op_s.p50": {"value": statistics.median(out.ops), "unit": "s"},
        "space_amp": {"value": out.space_amp, "unit": "ratio"},
    }


def summarize(workload: str, out: Outcome, setup: dict, failed: int,
              attempted: int) -> None:
    """The workload's own metric names, as the README defines them."""
    n = len(out.lat)
    lines = [f"setup_s = {setup['session_s'] + setup['history_s']:.3f} s",
             f"failed_frac = {failed / attempted:.4f} ({failed}/{attempted})"]
    if workload == "daily_close":
        lines.append(f"close_s.p50 = {statistics.median(out.lat):.3f} s "
                     f"(n={n})")
        lines.append(f"space_amp = {out.space_amp:.4f} "
                     f"(after {n} closes)")
    else:
        beyond = n - int(0.95 * n)
        lines.append(f"visit_s.p50 = {statistics.median(out.ops):.3f} s "
                     f"(n={len(out.ops)}, {len(PAGE_MIX)} pages each)")
        lines.append(f"page_s.p50 = {statistics.median(out.lat):.3f} s "
                     f"(n={n})")
        if beyond >= 10:
            p95 = statistics.quantiles(out.lat, n=20,
                                       method="inclusive")[-1]
            lines.append(f"page_s.p95 = {p95:.3f} s "
                         f"({beyond} samples beyond it)")
        else:
            lines.append(f"page_s.p95 not reported: {n} pages leave "
                         f"{beyond} samples beyond it, fewer than 10")
        lines.append(f"pages_per_s = {n / out.wall:.3f} 1/s "
                     f"({n} pages by one closed-loop client in "
                     f"{out.wall:.1f} s)")
    for line in lines:
        print(f"{workload}: {line}", flush=True)


if __name__ == "__main__":
    sys.exit(main())
