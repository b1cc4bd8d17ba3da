"""Every metric the benchmark prints is declared in BENCHMARK.json with its
unit, and in ``perfbench.layers`` with its workloads and what it should
move; BENCHMARK.json keeps the benchmark contract's shape."""

import re

import pytest

from perfbench import declared, layers
from perfbench.workloads import WORKLOADS

BENCH = declared.load()
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_contract_shape():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= BENCH["run_seconds"] <= 60
    assert {w["name"] for w in BENCH["workloads"]} == set(WORKLOADS)
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    assert 1 <= len(BENCH["end_to_end"]) <= 16 and 1 <= len(BENCH["per_layer"]) <= 128
    names = [m["name"] for kind in ("end_to_end", "per_layer") for m in BENCH[kind]]
    names += [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in BENCH["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for kind in ("end_to_end", "per_layer"):
        for m in BENCH[kind]:
            assert NAME.match(m["name"]) and UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


@pytest.mark.parametrize(
    "kind,spec", [("end_to_end", layers.END_TO_END), ("per_layer", layers.spec())]
)
def test_every_metric_has_unit_workloads_and_reason(kind, spec):
    assert set(declared.units(kind)) == set(spec)
    for name, (workloads, reason) in spec.items():
        assert workloads and set(workloads) <= set(WORKLOADS), name
        assert reason.strip(), name


def test_steps_match_the_op_map():
    for wl in WORKLOADS.values():
        assert len(wl.steps) == 4 and len(wl.reps) == 4 and min(wl.reps) >= 1
        for i, step in enumerate(wl.steps, start=1):
            for op in step:
                assert layers.OPS[op] == (wl.name, f"op{i}_s")
    assert {f"op{i}_s" for i in (1, 2, 3, 4)} <= set(layers.END_TO_END)


def test_render_refuses_undeclared_and_missing_metrics():
    values = {name: 1.0 for name in declared.units("end_to_end")}
    assert set(declared.render("end_to_end", values)) == set(values)
    with pytest.raises(KeyError):
        declared.render("end_to_end", {**values, "not_declared_s": 1.0})
    values.pop("setup_s")
    with pytest.raises(KeyError):
        declared.render("end_to_end", values)
