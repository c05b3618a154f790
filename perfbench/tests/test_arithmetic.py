"""The benchmark's own arithmetic: span self time, the time no job
runs, the tail rule, the output schema, and the inputs it generates.

    python3 -m pytest perfbench/tests -q
"""

import json
import os

import pytest

import compare
import datagen
import probes
import spans
import stats
import workloads
from spans import Span

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "BENCHMARK.json")


def _declared():
    with open(BENCHMARK) as fh:
        return json.load(fh)


def test_covered_is_union_clipped_to_window():
    assert spans.covered([(1, 3), (2, 5), (8, 12), (-4, -1)], 0, 10) == pytest.approx(6)
    assert spans.covered([], 0, 10) == 0


def test_self_time_subtracts_time_children_cover():
    sp = [Span("root", "engine", 0, 10, -1, "s"),
          Span("a", "parser", 1, 3, 0, "s"),
          Span("b", "sources.load", 2, 5, 0, "s"),  # overlaps a
          Span("c", "parser", 2.5, 2.7, 2, "s"),    # grandchild: b's, not root's
          Span("d", "catalyst", 8, 9, 0, "s")]
    own = spans.self_times(sp)
    assert own[0] == pytest.approx(10 - 5)  # [1, 5] and [8, 9]
    assert own[2] == pytest.approx(3 - 0.2)
    assert own[3] == pytest.approx(0.2)


def _script_spans(script: str, t: float, base: int = 0) -> list[Span]:
    """One traced script as the benchmark records it: a script span
    holding Engine.execute and the forcing write; `base` is the index
    of its first span in the tracer's list."""
    return [Span(script, "script", t, t + 10, -1, script),
            Span("engine.execute", "engine", t + 0.5, t + 7, base, script),
            Span("parser.split_statements", "parser", t + 0.6, t + 0.7, base + 1, script),
            Span("sources.load_source", "sources.load", t + 1, t + 2, base + 1, script),
            Span("operators.NearDedup", "operators", t + 2, t + 6, base + 1, script),
            Span("catalyst.sql", "catalyst", t + 3, t + 3.5, base + 4, script),
            Span("parser.parse_statement", "parser", t + 6.2, t + 6.3, base + 1, script),
            Span("force", "force", t + 7, t + 9.5, base, script)]


def test_layer_self_times_sum_to_execute_wall_time():
    sp = _script_spans("p1.0.a", 0.0)
    sp += _script_spans("p1.1.b", 20.0, base=len(sp))
    assert spans.execute_residuals(sp) == pytest.approx([0.0, 0.0], abs=1e-12)
    totals = spans.layer_totals(sp, {"p1.0.a", "p1.1.b"})
    layers = [v for k, v in totals.items()
              if k in spans.LAYER_SELF_METRICS.values() and k != "force.self_s"]
    assert sum(layers) == pytest.approx(totals["engine.execute_s"]) == pytest.approx(13.0)
    assert totals["operators.et_s.NearDedup"] == pytest.approx(2 * 3.5)
    assert totals["parser.calls"] == 4
    assert totals["force.self_s"] == pytest.approx(5.0)


def test_driver_gap_is_wall_minus_union_of_job_intervals():
    jobs = [(1, 3), (2, 4), (9, 12), (-3, -1)]
    assert probes.driver_gap(0, 10, jobs) == pytest.approx(10 - 3 - 1)
    assert probes.driver_gap(0, 10, []) == pytest.approx(10)


@pytest.mark.parametrize("n", [11, 12, 30, 57, 200])
def test_tail_is_highest_percentile_with_ten_samples_above(n):
    samples = [float(v) for v in range(n, 0, -1)]
    value, pct = stats.tail(samples)
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_without_ten_samples_above_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert stats.tail([float(v) for v in range(10)]) == (9.0, 100.0)


def _passes():
    layers = {**spans.layer_totals(_script_spans("p2.0.a", 0.0), {"p2.0.a"}),
              **dict.fromkeys(probes.SPARK_METRICS, 1.0),
              **dict.fromkeys(spans.COUNTS, 2)}
    plain = [stats.PassRecord(i, False, 5.0 + i, 9.0, [("a", 1.0 + i), ("b", 2.0)], 0.0, False)
             for i in (1, 3)]
    traced = stats.PassRecord(2, True, 6.5, 9.5, [("a", 1.5), ("b", 2.5)], 0.0, False, layers)
    return plain + [traced]


def test_output_schema_has_every_declared_metric_with_its_unit():
    declared = _declared()
    e2e = stats.end_to_end(_passes(), [3.0, 1.0, 2.0], 1500.0)
    measured = {k for k in e2e if not k.startswith("_")}
    assert measured == {m["name"] for m in declared["end_to_end"]}
    per_layer = stats.per_layer(_passes())
    assert set(per_layer) <= {m["name"] for m in declared["per_layer"]}
    for section, values in (("end_to_end", e2e), ("per_layer", per_layer)):
        block = stats.metrics_block(declared[section], values)
        assert list(block) == [m["name"] for m in declared[section]]
        for m in declared[section]:
            assert block[m["name"]]["unit"] == m["unit"]
            assert isinstance(block[m["name"]]["value"], (int, float))
    assert per_layer["trace.overhead_s"] == pytest.approx(6.5 - 7.0)
    assert per_layer["catalyst.rule_effective_ratio"] == pytest.approx(1.0)


def test_missing_metric_is_an_error():
    with pytest.raises(KeyError):
        stats.metrics_block([{"name": "pass_s", "unit": "s"}], {})


def test_benchmark_json_shape():
    b = _declared()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert set(b["workloads"][0]) == {"name", "why"}
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert max(bounds.values()) <= 0.25
    assert bounds["setup_s"] == max(bounds.values())
    assert {w["name"] for w in b["workloads"]} <= set(workloads.WORKLOADS)


def test_compare_refuses_runs_of_different_scripts():
    def run(h):
        return ({"workload": "relational", "stamp": {"script_hash": h}},
                {"metrics": {"pass_s": {"value": 2.0, "unit": "s"}}})
    assert len(compare.compare([run("a")], [run("a")])) == 1
    with pytest.raises(ValueError):
        compare.compare([run("a")], [run("b")])


def test_relational_scripts_follow_the_seed():
    inputs = {t: f"/data/{t}.parquet" for t in
              ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents")}
    a, b = workloads.Relational(inputs, 7), workloads.Relational(inputs, 8)
    assert a.scripts(1) == workloads.Relational(inputs, 7).scripts(1)
    assert a.scripts(1) != a.scripts(2)
    assert a.scripts(1) != b.scripts(1)
    assert sorted(s.name for s in a.scripts(1)) == sorted(t.name for t in workloads.RELATIONAL)


def test_inputs_follow_the_seed(tmp_path):
    def digest(seed, sub):
        paths = datagen.write_inputs(str(tmp_path / sub), seed, 0.001, 50)
        return {t: open(p, "rb").read() for t, p in paths.items()}
    assert digest(3, "a") == digest(3, "b")
    assert digest(3, "a")["lineitem"] != digest(4, "c")["lineitem"]
