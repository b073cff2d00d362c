"""Tests of the benchmark's own logic (not of the engine).

Run: python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
import zlib

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import (  # noqa: E402
    ProcTree,
    Runner,
    best_of_passes,
    layer_metrics,
    max_reportable_percentile,
    op_breakdown,
    pass_totals,
    percentile,
)
from tracing import Span, SparkCounters, Tracer, parse_metric, self_time  # noqa: E402
from workloads import Op, Scaled, digest_rows, same_digest  # noqa: E402


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([3.0], 90) == 3.0
    assert percentile([5, 1, 3], 50) == 3
    with pytest.raises(ValueError):
        percentile([], 50)


def test_reportable_percentile_needs_ten_samples_beyond():
    assert max_reportable_percentile(19) is None
    assert max_reportable_percentile(20) == 50
    assert max_reportable_percentile(99) == 50
    assert max_reportable_percentile(100) == 90
    assert max_reportable_percentile(999) == 90
    assert max_reportable_percentile(1000) == 99


def test_best_of_passes_takes_each_field_at_its_best():
    samples = {
        "a": [(2.0, 5.0, 1.0), (1.5, 6.0, 0.9)],  # wall and CPU best in other passes
        "b": [(4.0, 9.0, 2.0)],
    }
    assert best_of_passes(samples) == {"a": (1.5, 5.0, 0.9), "b": (4.0, 9.0, 2.0)}
    assert pass_totals(samples) == (5.5, 14.0, 2.9)
    assert pass_totals({}) == (0.0, 0.0, 0.0, 0.0)


def test_driver_cpu_counts_new_threads_and_skips_ended_ones():
    before = (1.0, {10: 2.0, 11: 5.0})
    after = (1.5, {10: 2.25, 12: 0.5})  # 11 ended, 12 started
    assert ProcTree.driver_cpu_s(before, after) == pytest.approx(0.5 + 0.25 + 0.5)


def test_digest_of_rows_matches_oracle_rules():
    cols = ["flag", "n", "x"]
    rows = [("A", 1, 0.1), ("B", 2, None), ("A", 3, 0.2)]
    d = digest_rows(cols, rows)
    assert d["_rows"] == 3 and d["n"] == 6 and d["x"] == pytest.approx(0.3)
    assert d["flag"] == 2 * zlib.crc32(b"A") + zlib.crc32(b"B")
    assert same_digest(dict(d, x=0.30000000000001), d)
    assert not same_digest(dict(d, n=7), d)
    assert not same_digest(dict(d, x=0.31), d)


def _span(i, name, start, end, parent=None):
    return Span(span_id=i, name=name, parent=parent, run_id="t", start=start, end=end)


def test_self_time_subtracts_union_of_children():
    top = _span(0, "pass", 0.0, 10.0)
    kids = [
        _span(1, "a", 1.0, 3.0, 0),
        _span(2, "b", 2.0, 4.0, 0),   # overlaps a: union 1..4
        _span(3, "c", 6.0, 7.0, 0),
        _span(4, "d", 9.5, 12.0, 0),  # clipped to the parent's end
    ]
    assert self_time(top, kids) == pytest.approx(10.0 - 3.0 - 1.0 - 0.5)
    assert self_time(top, []) == pytest.approx(10.0)


def test_layer_metrics_sum_spans_per_pass():
    tr = Tracer(None)
    tr.enabled = True  # spans are added by hand below
    for p, base in enumerate((0.0, 100.0)):
        top = _span(len(tr.spans), "pass", base, base + 10.0)
        tr.spans.append(top)
        op = _span(len(tr.spans), "op.q", base + 0.5, base + 8.5, top.span_id)
        tr.spans.append(op)
        b = _span(len(tr.spans), "queries.build", base + 1, base + 3, op.span_id)
        b.counters = {"jobs": 2, "spark.tasks": 8, "spark.executor_run_s": 1.0}
        tr.spans.append(b)
        e = _span(len(tr.spans), "queries.exec", base + 3, base + 7 + p, op.span_id)
        e.counters = {"jobs": 1, "spark.tasks": 4, "spark.executor_run_s": 3.0}
        e.stages = [(1003.0, 1005.0), (1004.0, 1006.0)]  # 3 s of 8 with a stage
        tr.spans.append(e)
    m = layer_metrics(tr)
    assert m["queries.build_s"] == pytest.approx(2.0)
    assert m["queries.build_jobs"] == 2
    assert m["queries.exec_jobs"] == 1
    assert m["queries.exec_s"] == pytest.approx(4.5)  # median of 4 and 5
    assert m["spark.tasks"] == 12
    # outside every layer span: 2 s of the pass, then 2 s and 1 s of the op
    assert m["trace.unattributed_s"] == pytest.approx(3.5)
    layers = op_breakdown(tr)["q"]
    assert layers["wall_s"] == 8.0
    assert layers["build_share"] == 0.25
    assert layers["busy_cores"] == 0.5
    assert layers["stage_share"] == 0.375


def test_disabled_tracer_records_nothing():
    tr = Tracer(None)
    with tr.span("queries.build") as sp:
        assert sp is None
    assert tr.spans == []


@pytest.mark.parametrize(
    "text,value",
    [
        ("428 ms", 0.428),
        ("2.2 s", 2.2),
        ("1.5 m", 90.0),
        ("189.1 KiB", 189.1 * 1024),
        ("12 B", 12.0),
        ("1,234", 1234.0),
        ("total (min, med, max (stageId: taskId))\n2.2 s (0 ms, 1.1 s, 1.1 s (stage 9.0: task 12))", 2.2),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


class _Workload(Scaled):
    """q01 collected, q01 to the noop sink, one op that raises, one with a
    wrong result."""

    def __init__(self, spark, sf_dir):
        self.spark, self.data = spark, sf_dir
        self._oracles = {}
        q = "q01_pricing_summary"
        self._ops = [
            Op(q, self._op(q, collect=True)),
            Op(q, self._op(q, collect=False)),
            Op("raises", self._raises),
            Op("wrong", self._op(q, collect=True)),
        ]

    def ops(self, warmup=False):
        return self._ops

    def _raises(self, tracer):
        raise RuntimeError("deliberate failure")

    def check(self, op, result):
        if op.name == "wrong":
            cols, rows = result
            result = cols, rows[1:]  # one row lost
            op = Op("q01_pricing_summary", op.run)
        super().check(op, result)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from columnarmodeling_spark.session import get_spark

    s = get_spark("perfbench-tests", extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s


def test_failures_are_counted_and_do_not_stop_the_run(spark, tmp_path):
    import datagen
    from pyspark import SparkContext

    sf_dir = str(tmp_path / "sf0.001")
    datagen.write(sf_dir, 0.001, seed=5)
    w = _Workload(spark, sf_dir)
    runner = Runner(w, spark, ProcTree(SparkContext._gateway.proc.pid))
    tracer = Tracer(spark, run_id="test")
    samples: dict[str, list] = {}
    runner.run_pass(tracer, samples)
    runner.run_pass(Tracer(None), samples, group="plain")
    assert SparkCounters(spark).task_cpu_s("plain") > 0
    assert runner.attempted == 8
    assert runner.failed == 4
    assert not runner.jvm_lost
    assert sorted(samples) == ["q01_pricing_summary"]
    assert len(samples["q01_pricing_summary"]) == 4  # collected and noop, twice
    assert any("deliberate failure" in e for e in runner.errors)
    assert any("rows, oracle" in e for e in runner.errors)
    # the traced pass recorded the q01 build/exec spans with their jobs
    m = layer_metrics(tracer)
    assert m["queries.exec_jobs"] >= 3  # q01 collected, to noop, and wrong
    assert m["catalog.scan_rows"] > 0
    layers = op_breakdown(tracer)
    assert sorted(layers) == ["q01_pricing_summary", "raises", "wrong"]
    assert 0 < layers["q01_pricing_summary"]["build_share"] < 1
    assert 0 < layers["q01_pricing_summary"]["stage_share"] < 1


def test_noop_execution_with_wrong_digest_fails(spark, tmp_path):
    import datagen

    sf_dir = str(tmp_path / "sf0.001")
    datagen.write(sf_dir, 0.001, seed=5)
    w = _Workload(spark, sf_dir)
    obs = w._op("q01_pricing_summary", collect=False)(Tracer(None))
    w.check(Op("q01_pricing_summary", None), obs)  # the right digest passes
    w._oracles["q01_pricing_summary"][1].pop()  # the oracle loses a row
    with pytest.raises(AssertionError, match="rows, oracle"):
        w.check(Op("q01_pricing_summary", None), obs)


def test_datagen_is_deterministic_in_seed():
    import datagen

    a = datagen.tables(0.001, seed=3)
    b = datagen.tables(0.001, seed=3)
    c = datagen.tables(0.001, seed=4)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000
    assert a["documents"].num_rows == 500
