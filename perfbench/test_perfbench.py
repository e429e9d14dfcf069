"""Tests of the benchmark harness itself.

    python3 -m pytest perfbench -q            # unit tests + tiny end-to-end runs
    python3 -m pytest perfbench -q -k "not selftest"   # unit tests only
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from stats import percentile, tail_percentile  # noqa: E402
from tracing import Tracer, aggregate_by_group, group_id, self_times  # noqa: E402


# -- percentile rule --------------------------------------------------------

@pytest.mark.parametrize("n", range(1, 400))
def test_tail_percentile_is_highest_with_ten_beyond(n):
    def beyond(p):
        return n - math.ceil(n * p / 100)

    p = tail_percentile(n)
    if n < 20:
        assert p is None
        return
    assert beyond(p) >= 10
    assert p == 99 or beyond(p + 1) < 10


def test_tail_percentile_known_values():
    assert tail_percentile(100) == 90
    assert tail_percentile(30) == 66
    assert tail_percentile(1000) == 99


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([3.0], 90) == 3.0


# -- status-store aggregation -----------------------------------------------

def _stage(run_ms, sw=0, sr=0, rec=0, spill=0, failed=0):
    return {
        "executorRunTime": run_ms, "shuffleWriteBytes": sw, "shuffleReadBytes": sr,
        "inputRecords": rec, "memoryBytesSpilled": spill,
        "diskBytesSpilled": 0, "numFailedTasks": failed, "status": "COMPLETE",
    }


def test_aggregate_by_layer_and_by_span():
    stages = {
        1: _stage(1000, sw=500, rec=40),
        2: _stage(2000, sr=500),  # post-shuffle
        3: _stage(500, rec=7, spill=9),
    }
    jobs = [
        # two jobs of one span share stage 1 (a reused exchange)
        {"job": 0, "group": "query.execute#4", "stages": [1, 2],
         "submitted_ms": 0, "completed_ms": 100, "failed_tasks": 0},
        {"job": 1, "group": "query.execute#4", "stages": [1],
         "submitted_ms": 50, "completed_ms": 150, "failed_tasks": 1},
        {"job": 2, "group": "query.execute#9", "stages": [3],
         "submitted_ms": 300, "completed_ms": 400, "failed_tasks": 0},
        {"job": 3, "group": None, "stages": [3],
         "submitted_ms": 0, "completed_ms": 10, "failed_tasks": 0},
    ]
    layer = aggregate_by_group(jobs, stages)["query.execute"]
    assert layer["jobs"] == 3
    assert layer["wall_s"] == pytest.approx(0.25)  # [0,150] U [300,400]
    assert layer["task_s"] == pytest.approx(3.5)  # stage 1 counted once
    assert layer["shuffle_write_bytes"] == 500
    assert layer["post_shuffle_task_s"] == pytest.approx(2.0)
    assert layer["input_records"] == 47
    assert layer["spill_bytes"] == 9
    assert layer["failed_tasks"] == 1
    by_span = aggregate_by_group(jobs, stages, key=lambda g: g or "(none)")
    assert by_span["query.execute#4"]["jobs"] == 2
    assert by_span["query.execute#9"]["task_s"] == pytest.approx(0.5)
    assert by_span["(none)"]["jobs"] == 1


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # clipped at 10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0)


# -- tracer -----------------------------------------------------------------

class _FakeSC:
    def __init__(self):
        self.local = threading.local()

    def setJobGroup(self, gid, desc):
        self.local.group = gid

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.local.group = value


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeSC()


def test_tracer_markers_groups_and_pool_threads():
    import types

    spark = _FakeSpark()
    sc = spark.sparkContext
    mod = types.SimpleNamespace(
        lazy=lambda: "plan",
        action=lambda: getattr(sc.local, "group", None),
    )
    seen = {}

    def outer():
        mod.lazy()  # marker: its group holds for the next action
        seen["after_marker"] = getattr(sc.local, "group", None)
        seen["in_call"] = mod.action()
        t = threading.Thread(target=lambda: seen.setdefault("pool", mod.lazy()))
        t.start()
        t.join(timeout=10)
        return getattr(sc.local, "group", None)

    mod.outer = outer
    tr = Tracer(spark)
    tr.wrap(mod, "lazy", "layer.lazy", marker=True)
    tr.wrap(mod, "action", "layer.action")
    tr.wrap(mod, "outer", "layer.outer")
    back = mod.outer()
    tr.finish()
    names = {s["id"]: s["name"] for s in tr.spans}
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s["name"], []).append(s)
    outer_span = by_name["layer.outer"][0]
    lazy_main, lazy_pool = by_name["layer.lazy"]
    assert seen["after_marker"] == group_id(lazy_main)
    assert seen["in_call"] == group_id(by_name["layer.action"][0])
    # the call span closed the marker before it started
    assert lazy_main["end"] <= by_name["layer.action"][0]["start"]
    # a pool thread's span is parented to the span open on the tracing thread
    assert names[lazy_pool["parent"]] == "layer.outer"
    # and a marker left open there ends with that parent
    assert lazy_pool["end"] == outer_span["end"]
    # closing a call span restores the enclosing span's group
    assert back == group_id(outer_span)
    assert getattr(sc.local, "group", None) is None
    tr.unwrap_all()
    assert mod.lazy() == "plan" and not hasattr(mod.lazy, "__wrapped__")


# -- generator --------------------------------------------------------------

P = json.load(open(os.path.join(HERE, "workloads.json")))["params"]


def test_generator_is_deterministic_and_planted():
    p = {**P["serve"], "boilerplate_docs": 30}
    a, b = gen.make_corpus(p, 5, 200), gen.make_corpus(p, 5, 200)
    assert a == b
    assert gen.make_corpus(p, 6, 200) != a
    assert len({d["text"] for d in a[-30:]}) == 1
    assert any(d["dup_of"] is not None for d in a)
    lens = [len(d["text"].split()) for d in a[:-30]]
    assert min(lens) >= p["doc_tokens"][0] and max(lens) <= p["doc_tokens"][1]
    assert gen.make_queries(p, 5, 50) == gen.make_queries(p, 5, 50)


def test_absent_query_terms_never_occur_in_corpus():
    p = {**P["serve"], "absent_term_share": 0.5}
    words = {w for d in gen.make_corpus(p, 3, 300) for w in d["text"].split()}
    absent = [
        t for q in gen.make_queries(p, 3, 100)
        for t in " ".join(v for k, v in q.items() if k in ("query", "must", "should", "must_not")).split()
        if t.startswith("zq")
    ]
    assert absent and not words & set(absent)


def test_stream_script_deletes_live_untouched_pages():
    p = P["stream"]
    base = gen.make_corpus(p, 4, 300)
    live = {d["url"] for d in base}
    for r in gen.make_stream_script(p, 4, base):
        ups = {d["url"] for d in r["upsert"]}
        assert len(r["upsert"]) == p["upsert_new"] + p["upsert_recrawl"]
        assert len(ups & live) == p["upsert_recrawl"]
        assert set(r["delete"]) <= live and not set(r["delete"]) & ups
        live = (live | ups) - set(r["delete"])


# -- tiny end-to-end runs of both workloads ---------------------------------

TINY = {
    "serve": {"corpus_docs": 200, "boilerplate_docs": 20, "min_timed_queries": 3,
              "batch_queries": 5, "setup_repeats": 2},
    "stream": {"corpus_docs": 200, "upsert_new": 4, "upsert_recrawl": 2, "deletes": 2,
               "queries_per_refresh": 2, "batch_queries": 5, "setup_repeats": 2},
}


def _tiny_run(workload: str, trace: int, prelude: str = "") -> dict:
    """Run run.main at TINY sizes in a fresh interpreter (prelude runs first,
    e.g. to break the engine); return the parsed JSON verdict line."""
    root = os.path.dirname(HERE)
    argv = ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    code = (
        f"import sys; sys.path[:0] = [{root!r}, {HERE!r}]\n{prelude}\n"
        f"import run; sys.exit(run.main({argv!r}, params={TINY[workload]!r}))"
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd=root,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["serve", "stream"])
def test_selftest_tiny_run(workload, trace):
    out = _tiny_run(workload, trace)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    want = bench["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]


BREAK_QUERIES = """
from webindex import query
def _broken(*a, **kw):
    raise RuntimeError("injected query failure")
query.topk_wand = query.topk_match = query.topk_bool = _broken
"""


def test_selftest_failing_engine_is_reported_wrong():
    # every interactive query raises: the replay must still end and the run
    # must print a verdict with the failures counted
    out = _tiny_run("serve", 0, prelude=BREAK_QUERIES)
    assert not out["correct"]
    assert out["failed"] >= TINY["serve"]["min_timed_queries"]
    assert out["attempted"] > out["failed"]
