#!/usr/bin/env python3
"""Print the per-layer table of a traced run.

    python3 perfbench/report.py .bench_work/trace-daily_close-1.jsonl

One row per span name over the traced operations: calls, wall time
and self time per operation, and the Spark jobs, tasks, executor CPU
and shuffle bytes of the jobs the span started itself (children's
jobs are theirs); then the same for the traced set-up build (trace
``build``).  Below them, the run's per-layer metrics
(``<trace>.metrics.json``, written next to the trace) including
``trace.overhead_frac`` and ``trace.uncovered_frac``.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import SETUP_TRACE  # noqa: E402
from spans import load  # noqa: E402


def table(spans: list[dict], what: str) -> list[str]:
    roots = [s for s in spans if s["parent"] is None]
    n = max(1, len(roots))
    rows: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        r = rows[s["name"]]
        r["calls"] += 1
        r["wall_s"] += s["dur"]
        r["self_s"] += s["self_s"]
        r["jobs"] += s["own"].get("jobs", 0)
        r["tasks"] += s["own"].get("tasks", 0)
        r["cpu_s"] += s["own"].get("cpu_s", 0.0)
        r["shuffle_mb"] += s["own"].get("shuffle_write_bytes", 0) / 2**20
    head = (f"{'span':24s} {'calls':>6s} {'wall_s':>8s} {'self_s':>8s} "
            f"{'jobs':>6s} {'tasks':>7s} {'cpu_s':>7s} {'shuf_MB':>8s}")
    out = [f"{len(roots)} traced {what}s; figures per {what}", head]
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["wall_s"]):
        out.append(
            f"{name:24s} {r['calls'] / n:6.1f} {r['wall_s'] / n:8.3f} "
            f"{r['self_s'] / n:8.3f} {r['jobs'] / n:6.1f} "
            f"{r['tasks'] / n:7.1f} {r['cpu_s'] / n:7.3f} "
            f"{r['shuffle_mb'] / n:8.3f}")
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    path = argv[0]
    spans = load(path)
    setup = [s for s in spans if s["trace"] == SETUP_TRACE]
    for line in table([s for s in spans if s not in setup], "operation"):
        print(line)
    if setup:
        print()
        for line in table(setup, "set-up build"):
            print(line)
    metrics = os.path.splitext(path)[0] + ".metrics.json"
    if os.path.exists(metrics):
        with open(metrics) as fh:
            m = json.load(fh)
        print()
        for name, v in m.items():
            print(f"{name:32s} {v['value']:14.4f} {v['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
