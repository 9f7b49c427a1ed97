"""The benchmark's own tests: no Spark session is started.

    python3 -m pytest psxbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import types

import pytest

import gen
import layers
import run
import spread
from layers import Span
from workloads import CORPUS_PICKS, WORKLOADS, mix_queries

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_match_benchmark_json(spec):
    assert tuple(m["name"] for m in spec["end_to_end"]) == run.END_TO_END
    assert tuple(m["name"] for m in spec["per_layer"]) == run.PER_LAYER
    names = run.END_TO_END + run.PER_LAYER
    assert len(set(names)) == len(names)
    assert all(NAME.match(n) for n in names)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"]) <= 0.25


def test_end_to_end_reports_every_metric():
    w = WORKLOADS["corpus_mix"]
    log = [{"pass": p, "wall_s": 1.0 + p, "cpu_s": 2.0} for p in range(w.warmup + 3)]
    fake = types.SimpleNamespace(w=w, log=log, import_s=0.5, session_s=4.0)
    timed = [r for r in log if r["pass"] > w.warmup]
    m = run.end_to_end(fake, timed, 100.0)
    assert tuple(m) == run.END_TO_END
    assert m["cold_tick_s"][0] == 1.0
    assert m["setup_s"][0] == 0.5 + 4.0 + sum(1.0 + p for p in range(w.warmup + 1))
    assert m["wall_s"][0] == sum(r["wall_s"] for r in timed)
    assert all(v > 0 for v, _ in m.values())


def test_every_workload_records_its_reason(spec):
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for entry in spec["workloads"]:
        w = WORKLOADS[entry["name"]]
        assert entry["why"] == w.why and "\n" not in w.why and len(w.why) <= 200
        assert "knee" in w.reason and str(w.warmup) in w.reason
        assert w.passes(spec["run_seconds"]) >= 1


def test_every_workload_keeps_its_warm_up_curve():
    for name, w in WORKLOADS.items():
        with open(os.path.join(ROOT, "psxbench", "curves", f"{name}.json")) as fh:
            curve = json.load(fh)
        assert curve["workload"] == name and curve["failed"] == 0
        assert len(curve["pass_wall_s"]) >= (30 if w.is_pipeline else 12)


def _write(tables, d):
    gen.write_tables(tables, str(d))
    return sorted(os.listdir(d))


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    files = _write(gen.make_tables(7, 0.001), a)
    assert files == [f"{t}.parquet" for t in sorted(gen.TABLES)]
    _write(gen.make_tables(7, 0.001), b)
    _write(gen.make_tables(8, 0.001), c)
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert (mismatch, errors) == ([], [])
    assert filecmp.cmpfiles(a, c, files, shallow=False)[1]  # other seed differs


def test_ticks_add_one_day_of_orders_deterministically(tmp_path):
    base = gen.make_tables(3, 0.001)
    t0, t1 = gen.tick_tables(base, 3, 0), gen.tick_tables(base, 3, 1)
    _write(gen.tick_tables(base, 3, 1), tmp_path / "x")
    _write(t1, tmp_path / "y")
    assert not filecmp.cmpfiles(tmp_path / "x", tmp_path / "y",
                                ["customer.parquet", "orders.parquet"], shallow=False)[1]
    assert t1["customer"] is base["customer"]
    per_day = t1["orders"].num_rows - t0["orders"].num_rows
    assert per_day > 0 and t0["orders"].num_rows == base["orders"].num_rows + per_day
    assert t1["orders"].slice(0, t0["orders"].num_rows).equals(t0["orders"])
    keys = t1["orders"]["o_orderkey"].to_pylist()
    assert len(set(keys)) == len(keys)


def test_self_times_on_a_span_tree():
    spans = [
        Span("op", 0.0, 10.0, None),
        Span("plans.build", 1.0, 4.0, 0),
        Span("exec.fetch", 3.0, 6.0, 0),  # overlaps its sibling
        Span("exec.inner", 3.5, 4.5, 2),
        Span("op", 20.0, 21.0, None),
    ]
    own = layers.self_times(spans)
    assert own["op"] == pytest.approx(10 - 5 + 1)
    assert own["plans.build"] == pytest.approx(3.0)
    assert own["exec.fetch"] == pytest.approx(2.0)
    assert own["exec.inner"] == pytest.approx(1.0)
    assert layers.totals(spans)["op"] == pytest.approx(11.0)
    assert layers.innermost(spans, 4.0).name == "exec.inner"
    assert layers.innermost(spans, 15.0) is None
    assert layers.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


@pytest.mark.parametrize("text, value", [
    ("1,234", 1234),
    ("0", 0),
    ("850 ms", 0.85),
    ("1.2 s", 1.2),
    ("3.0 m", 180.0),
    ("12.5 KiB", 12.5 * 1024),
    ("1024.0 B", 1024),
    ("total (min, med, max (stageId: taskId))\n"
     "2.0 MiB (1024.0 KiB, 1024.0 KiB, 1024.0 KiB (stage 3.0: task 7))", 2 * 2**20),
    ("total (min, med, max (stageId: taskId))\n"
     "1.5 s (0 ms, 700 ms, 800 ms (stage 1.0: task 2))", 1.5),
])
def test_parse_spark_sql_metric_strings(text, value):
    assert layers.parse_metric(text) == pytest.approx(value)


def test_plan_metrics_from_joined_case_class_forms():
    text = "\x01".join(["SQLPlanMetric(number of output rows,12,sum)",
                         "SQLPlanMetric(scan time,3000000000,timing)",
                         "SQLPlanMetric(a, b,7,size)"])
    assert layers.plan_metrics(text) == [
        ("number of output rows", 12), ("scan time", 3000000000), ("a, b", 7)]
    assert layers.plan_metrics("") == []


def test_parse_rejects_unknown_text():
    with pytest.raises(ValueError):
        layers.parse_metric("n/a")
    with pytest.raises(ValueError):
        layers.parse_metric("3 parsecs")


def _fn(module):
    f = lambda spark, d: None  # noqa: E731
    f.__module__ = f"psx_data_pipeline_spark.plans.{module}"
    return f


def test_mix_membership_rule_on_a_synthetic_registry():
    queries = {"a": _fn("stream"), "b": _fn("tpch"), "c": _fn("dedup"), "d": _fn("spans")}
    oracle = {"a": "", "b": "", "c": ""}  # d has no oracle
    assert mix_queries(queries, oracle, ("c", "a")) == ["a", "c"]
    assert mix_queries(queries, oracle, ()) == []
    for picks in (("a", "b"), ("d",), ("x",)):  # not corpus, no oracle, unknown
        with pytest.raises(ValueError):
            mix_queries(queries, oracle, picks)


def test_mix_membership_on_the_engine_registry():
    from psx_data_pipeline_spark.plans import ORACLE_SQL, QUERIES

    mix = mix_queries(QUERIES, ORACLE_SQL, WORKLOADS["corpus_mix"].picks)
    assert sorted(mix) == sorted(CORPUS_PICKS) and len(mix) == 4
    assert mix_queries(QUERIES, ORACLE_SQL, WORKLOADS["pipeline_daily"].picks) == []


def test_spread_matches_the_quartile_rule():
    values = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    q1, med, q3 = __import__("statistics").quantiles(values, n=4)
    assert spread.spread(values) == pytest.approx((q3 - q1) / med)
    assert spread.parse_seeds("1-3,7") == [1, 2, 3, 7]
