"""Span tracer: self-time arithmetic, job attribution (nested spans and
a second client thread), and the per-layer report.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Tracer, load, self_time, union_length  # noqa: E402


def test_self_time_subtracts_the_union_of_children():
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == 7.0
    # overlapping children (two client threads) count once
    assert self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0)]) == 5.0
    # a child reaching outside the parent is clipped to it
    assert self_time(2.0, 10.0, [(0.0, 4.0), (9.0, 12.0)]) == 5.0
    assert union_length([(0.0, 1.0), (1.0, 2.0)], 0.0, 5.0) == 2.0


def test_disabled_tracer_records_nothing():
    tr = Tracer(None)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


def test_nested_spans_link_parents_and_self_time():
    tr = Tracer(None)
    with tr.enabled():
        with tr.span("root", trace="day1"):
            with tr.span("child"):
                pass
    child, root = tr.spans
    assert child.parent == root.span_id and root.parent is None
    assert child.trace == root.trace == "day1"
    assert root.self_s == pytest.approx(root.dur - child.dur, abs=1e-9)


@pytest.fixture(scope="module")
def spark():
    from stock_market_data_pipeline_spark.session import get_spark

    s = get_spark("perfbench-test", master="local[2]", extra_conf={
        "spark.driver.memory": "1g", "spark.sql.shuffle.partitions": "2"})
    yield s
    s.stop()


def test_jobs_go_to_the_innermost_span_and_the_right_thread(spark):
    tr = Tracer(spark)
    started, done = threading.Event(), threading.Event()

    def client():
        with tr.enabled():
            with tr.span("client", trace="page1"):
                started.set()
                spark.range(50).selectExpr("sum(id)").collect()
                done.wait(60)

    t = threading.Thread(target=client, name="client1")
    with tr.enabled():
        with tr.span("parent", trace="day1"):
            spark.range(10).selectExpr("sum(id)").collect()
            t.start()
            assert started.wait(60)
            with tr.span("child"):
                spark.range(20).selectExpr("max(id)").collect()
            done.set()
    t.join(60)
    assert not t.is_alive()

    by = {s.name: s for s in tr.spans}
    parent, child, cl = by["parent"], by["child"], by["client"]
    assert len(parent.self_jobs) >= 1 and len(child.self_jobs) >= 1
    assert len(cl.all_jobs) >= 1
    # the child's jobs are the parent's too, but not its own
    assert set(child.all_jobs) <= set(parent.all_jobs)
    assert not set(child.all_jobs) & set(parent.self_jobs)
    # the other thread's job ran while "parent" was open, yet is not its
    assert not set(cl.all_jobs) & set(parent.all_jobs)
    assert cl.thread == "client1" and cl.trace == "page1"
    assert parent.total["jobs"] == len(parent.all_jobs)
    assert parent.total["tasks"] >= parent.own["tasks"] >= 1
    assert 0.0 <= parent.driver_only_s <= parent.dur


def test_report_prints_the_layer_table_and_trace_fractions(tmp_path, capsys):
    import report
    from layers import layer_metrics

    def span(i, name, parent, start, end, jobs=0, tasks=0, trace="d"):
        counters = {"jobs": jobs, "tasks": tasks, "cpu_s": 0.1 * jobs,
                    "run_s": 0.2 * jobs, "gc_s": 0.0,
                    "shuffle_write_bytes": 0, "output_bytes": 0,
                    "output_records": 0}
        return {"span_id": i, "name": name, "trace": trace, "parent": parent,
                "thread": "main", "start": start, "end": end,
                "dur": end - start, "attrs": {}, "all_jobs": [],
                "self_jobs": [], "self_s": 0.0, "driver_only_s": 0.0,
                "total": counters, "own": counters}

    spans = [span(1, "close", None, 0.0, 10.0, jobs=5, tasks=9),
             span(2, "ingest", 1, 0.0, 4.0, jobs=2, tasks=3),
             span(3, "incremental", 1, 4.0, 9.0, jobs=3, tasks=6),
             # the traced set-up build: its own root, not an operation
             span(4, "build", None, -30.0, -10.0, jobs=9, trace="build"),
             span(5, "models.fct", 4, -25.0, -20.0, jobs=4, tasks=8,
                  trace="build"),
             span(6, "manifest.create", 5, -22.0, -20.0, jobs=1,
                  trace="build")]
    spans[0]["self_s"] = 1.0
    path = tmp_path / "trace-x.jsonl"
    path.write_text("".join(json.dumps(s) + "\n" for s in spans))
    m = layer_metrics(load(str(path)), lat=[10.0, 8.0], traced=[True, False],
                      kinds=["close", "close"],
                      setup={"session_s": 1.0, "history_s": 2.0},
                      files_live=3, rss_mb=100.0)
    assert m["trace.uncovered_frac"]["value"] == pytest.approx(0.1)
    assert m["trace.overhead_frac"]["value"] == pytest.approx(0.25)
    assert m["ingest.s"]["value"] == pytest.approx(4.0)
    assert m["incremental.s"]["value"] == pytest.approx(5.0)
    assert m["spark.jobs"]["value"] == 5
    assert m["models.fct.tasks"]["value"] == 8
    assert m["manifest.create_s"]["value"] == pytest.approx(2.0)
    (tmp_path / "trace-x.metrics.json").write_text(json.dumps(m))

    assert report.main([str(path)]) == 0
    out = capsys.readouterr().out
    assert "1 traced operations" in out
    assert "1 traced set-up builds" in out
    lines = {ln.split()[0]: ln.split() for ln in out.splitlines() if ln}
    assert lines["incremental"][2] == "5.000"
    assert "trace.uncovered_frac" in lines and "trace.overhead_frac" in lines
