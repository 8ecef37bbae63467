"""Unit tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import diff  # noqa: E402
import metrics as MX  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402


# ------------------------------------------------------------- percentiles
def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert MX.percentile(vals, 50) == 50
    assert MX.percentile(vals, 99) == 99
    assert MX.percentile(vals, 100) == 100
    assert MX.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        MX.percentile([], 50)


def test_tail_needs_ten_beyond():
    assert MX.tail(range(10)) is None
    assert MX.tail(range(19)) is None          # p50 leaves only 9 above
    t = MX.tail(range(20))
    assert (t["pct"], t["n"], t["beyond"], t["value"]) == (50.0, 20, 10, 9)
    t = MX.tail(range(1000))
    assert t["pct"] == 99.0 and t["beyond"] == 10 and t["value"] == 989
    t = MX.tail(range(200))
    assert t["pct"] == 95.0 and t["beyond"] == 10


# ----------------------------------------------------------------- spans
def _span(name, start, end, parent=None):
    s = Span(name, start, parent)
    s.end = end
    return s


def test_self_time_nested_and_other():
    root = _span("a", 1.0, 9.0)
    child = _span("b", 2.0, 5.0, root)
    grand = _span("c", 3.0, 4.0, child)
    st = self_times([root, child, grand], 0.0, 10.0)
    assert st == pytest.approx({"a": 5.0, "b": 2.0, "c": 1.0, "other": 2.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_parallel_children_share_and_clip():
    root = _span("plan", 0.0, 4.0)
    k1 = _span("read", 1.0, 3.0, root)
    k2 = _span("read", 2.0, 3.0, root)
    late = _span("x", 3.5, 6.0)             # clipped to the window
    st = self_times([root, k1, k2, late], 0.0, 5.0)
    # [0,1] plan; [1,2] read; [2,3] two reads share; [3,4] plan (depth 0
    # tie with x in [3.5,4]); [4,5] x
    assert st["read"] == pytest.approx(2.0)
    assert st["plan"] + st["x"] + st["read"] == pytest.approx(5.0)
    assert st["x"] == pytest.approx(0.25 + 1.0)
    assert "other" not in st


def test_tracer_records_parents_only_when_enabled():
    tr = Tracer()
    with tr.span("off"):
        pass
    assert tr.take() == ([], {})
    tr.enabled = True
    with tr.span("outer"):
        with tr.span("inner"):
            tr.count("n", 2)
    spans, counts = tr.take()
    by = {s.name: s for s in spans}
    assert by["inner"].parent is by["outer"] and by["inner"].depth == 1
    assert counts == {"n": 2}


def test_wrap_counts_and_spans():
    class Mod:
        @staticmethod
        def f(x):
            return [x] * x

    tr = Tracer()
    tr.wrap(Mod, "f", "mod.f",
            on_result=lambda t, out, a, k: t.count("mod.items", len(out)))
    assert Mod.f(3) == [3, 3, 3]            # disabled: plain call
    tr.enabled = True
    Mod.f(2)
    spans, counts = tr.take()
    assert [s.name for s in spans] == ["mod.f"]
    assert counts == {"mod.items": 2}


# --------------------------------------------------------- cycle metrics
def _ops():
    Op = MX.Op
    return [
        Op(0, "append", "commit", 0.0, 1.0, True),
        Op(0, "read", "read", 1.0, 3.0, True),
        Op(1, "append", "commit", 3.5, 5.0, True),   # 0.5 s bookkeeping gap
        Op(1, "read", "read", 5.0, 6.5, True),
        Op(2, "append", "commit", 7.0, 8.0, True),
        Op(2, "read", "read", 8.0, 12.0, False),
    ]


def test_cycle_aggregation():
    ops = _ops()
    by = MX.cycles(list(reversed(ops)))
    assert sorted(by) == [0, 1, 2]
    assert [o.kind for o in by[1]] == ["append", "read"]
    assert [MX.cycle_wall(v) for v in by.values()] == [3.0, 3.0, 5.0]
    e = MX.end_to_end(ops)
    assert e["cycles"] == 3
    assert e["cycle_p50_s"] == 3.0
    assert e["ops_per_s"] == pytest.approx(6 / 11.0)   # gaps excluded
    assert e["read_p50_s"] == pytest.approx(2.0)
    assert e["commit_p50_s"] == pytest.approx(1.0)
    assert e["kind_p50_s"] == {"append": 1.0, "read": 2.0}
    assert e["headline_total_s"] == pytest.approx(3.0)
    assert e["trend"] == pytest.approx(5.0 / 3.0)
    assert e["cycle_tail"] is None


def test_trend():
    assert MX.trend([1.0]) is None
    assert MX.trend([2.0, 2.0, 1.0, 1.0]) == 0.5
    assert MX.trend([1.0, 5.0, 2.0]) == 2.0     # middle value ignored


# ------------------------------------------------------------------ diff
def _run(vals, by_kind=None):
    units = {"scan.plan_files_s": "s", "spark.exec_s": "s",
             "spark.jobs": "count", "trace.coverage": "ratio"}
    return {"metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in vals.items()},
            "diagnostics": {"spark_by_kind": by_kind or {}}}


def test_diff_sorts_by_size_and_flags_counts():
    base = [_run({"scan.plan_files_s": 0.10, "spark.exec_s": 1.0,
                  "spark.jobs": 5, "trace.coverage": 0.97},
                 {"read": {"jobs": 5}})] * 3
    new = [_run({"scan.plan_files_s": 0.05, "spark.exec_s": 1.2,
                 "spark.jobs": 6, "trace.coverage": 0.97},
                {"read": {"jobs": 6}}),
           _run({"scan.plan_files_s": 0.05, "spark.exec_s": 1.2,
                 "spark.jobs": 7, "trace.coverage": 0.97},
                {"read": {"jobs": 6}})]
    rows, unstable = diff.diff_runs(base, new)
    names = [r["name"] for r in rows]
    # changed counts first, then times largest move first
    assert set(names[:2]) == {"spark.jobs", "spark.read.jobs"}
    assert names[2:4] == ["spark.exec_s", "scan.plan_files_s"]
    jobs = next(r for r in rows if r["name"] == "spark.jobs")
    assert jobs["changed"] and jobs["new"] == 6.5
    plan = next(r for r in rows if r["name"] == "scan.plan_files_s")
    assert plan["rel"] == pytest.approx(-0.5) and not plan["changed"]
    assert unstable == [("spark.jobs", "new", [6, 7])]


def test_diff_loads_stdout(tmp_path):
    run = _run({"spark.exec_s": 1.0, "spark.jobs": 3, "trace.coverage": 1,
                "scan.plan_files_s": 0.1})
    import json
    out = tmp_path / "run.out"
    out.write_text("noise\n" + json.dumps({"diagnostics": run["diagnostics"]})
                   + "\n" + json.dumps({"correct": True, "attempted": 1,
                                        "failed": 0,
                                        "metrics": run["metrics"]}) + "\n")
    assert diff.load_run(str(out)) == run
