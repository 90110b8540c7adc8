"""The harness's own tests: seeded inputs, the percentile and tail-sample
rule, metric naming, and the metric assembly. No Spark session needed."""

from __future__ import annotations

import json
import math
import os

import pytest

import datagen
import metrics
import run
import stats
from common import Context, Result
from spans import Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL = {**datagen.TINY, "lineitem": 300, "orders": 100, "events": 50}


def test_same_seed_same_files(tmp_path):
    a = datagen.write_tables(str(tmp_path / "a"), 7, SMALL)
    b = datagen.write_tables(str(tmp_path / "b"), 7, SMALL)
    for t in datagen.TABLES:
        with open(os.path.join(a, f"{t}.parquet"), "rb") as fa, open(
            os.path.join(b, f"{t}.parquet"), "rb"
        ) as fb:
            assert fa.read() == fb.read(), t


def test_other_seed_other_tables_same_shape():
    a, b = datagen.build_tables(1, SMALL), datagen.build_tables(2, SMALL)
    assert set(a) == set(b) == set(datagen.TABLES)
    for t in datagen.TABLES:
        assert a[t].schema == b[t].schema
        assert a[t].num_rows == b[t].num_rows
    assert not a["lineitem"].equals(b["lineitem"])
    assert not a["documents"].equals(b["documents"])


def test_generated_tables_match_engine_table_list():
    from tv_event_streaming_spark.domain import TABLES

    assert tuple(datagen.TABLES) == tuple(TABLES)


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 11)]
    assert stats.percentile(xs, 50) == 5.5
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 10.0
    assert stats.percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile(xs, 101)


def test_tail_needs_ten_samples_beyond_it():
    assert stats.samples_needed(90) == 100
    assert stats.samples_needed(75) == 40
    assert stats.samples_needed(99) == 1000
    assert stats.tail([1.0] * 39) is None
    assert stats.tail([1.0] * 40)["q"] == 75
    assert stats.tail([1.0] * 99)["q"] == 75
    t = stats.tail([float(i) for i in range(100)])
    assert t["q"] == 90 and t["n"] == 100
    assert t["value"] == pytest.approx(89.1)


def test_spread_is_iqr_over_median():
    vs = [10.0, 10.0, 10.0, 10.0]
    assert stats.spread(vs) == 0.0
    vs = [float(v) for v in range(1, 11)]
    q1, _, q3 = (2.75, 5.5, 8.25)
    assert stats.spread(vs) == pytest.approx((q3 - q1) / 5.5)


@pytest.mark.parametrize(
    "name,unit,value",
    [
        ("_bad", "s", 1.0),
        ("a" * 65, "s", 1.0),
        ("has space", "s", 1.0),
        ("ok", "bad unit", 1.0),
        ("ok", "s" * 17, 1.0),
        ("ok", "s", math.nan),
        ("ok", "s", math.inf),
        ("ok", "s", True),
        ("ok", "s", "1.0"),
    ],
)
def test_check_names_rejects(name, unit, value):
    with pytest.raises(ValueError):
        stats.check_names({name: {"value": value, "unit": unit}})


def test_check_names_accepts_every_declared_metric():
    for names in (metrics.END_TO_END, metrics.PER_LAYER):
        stats.check_names({n: {"value": 1.5, "unit": u} for n, u in names.items()})


def test_benchmark_json_declares_what_the_harness_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert [w["name"] for w in bench["workloads"]] == list(metrics.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in bench["per_layer"])
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60


def _ctx() -> Context:
    return Context(spark=None, tracer=Tracer(False), counters=None, seed=1, work="")


def test_assemble_end_to_end_adds_setup():
    ctx = _ctx()
    ctx.setup = {"domain.derive": 2.0, "warmup": 3.0}
    res = Result(e2e={"op_mean_ms": 4.0, "work_per_s": 5.0}, layers={}, record={}, samples=1)
    out = metrics.assemble("catalog", False, res, ctx, session_s=1.0)
    assert out == {
        "setup_s": {"value": 6.0, "unit": "s"},
        "op_mean_ms": {"value": 4.0, "unit": "ms"},
        "work_per_s": {"value": 5.0, "unit": "1/s"},
    }


def test_assemble_per_layer_zero_fills_counts_not_times():
    ctx = _ctx()
    ctx.setup = {"domain.derive": 2.0}
    layers = {"op.build_ms": 1.0, "op.exec_ms": 2.0}
    res = Result(e2e={}, layers=layers, record={}, samples=1)
    out = metrics.assemble("service", True, res, ctx, session_s=1.0)
    assert set(out) == set(metrics.PER_LAYER)
    assert out["catalog.jobs"]["value"] == 0.0
    del layers["op.exec_ms"]
    with pytest.raises(ValueError, match="time metric"):
        metrics.assemble("service", True, res, ctx, session_s=1.0)
    layers["op.exec_ms"] = 2.0
    layers["undeclared"] = 1.0
    with pytest.raises(ValueError, match="undeclared"):
        metrics.assemble("service", True, res, ctx, session_s=1.0)


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.spans = [
        Span(0, None, 1, "op", 0.0, 10.0),
        Span(1, 0, 1, "a", 1.0, 4.0),
        Span(2, 0, 1, "b", 4.0, 9.0),
        Span(3, 2, 1, "a", 5.0, 6.0),
    ]
    assert tr.self_times() == {"op": 2.0, "a": 4.0, "b": 4.0}
    assert tr.totals() == {"op": 10.0, "a": 4.0, "b": 5.0}


def test_untraced_spans_time_but_record_nothing():
    tr = Tracer(False)
    with tr.op("op") as t:
        with tr.span("inner"):
            pass
    assert tr.spans == [] and t.seconds >= 0.0


@pytest.mark.parametrize(
    "argv",
    [
        ["--workload", "nope", "--seed", "1", "--seconds", "5", "--trace", "0"],
        ["--workload", "catalog", "--seed", "1", "--seconds", "0", "--trace", "0"],
        ["--workload", "catalog", "--seed", "1", "--seconds", "5", "--trace", "2"],
        ["--workload", "catalog", "--seed", "x", "--seconds", "5", "--trace", "0"],
    ],
)
def test_bad_arguments_exit_2(argv):
    with pytest.raises(SystemExit) as e:
        run.parse_args(argv)
    assert e.value.code == 2
