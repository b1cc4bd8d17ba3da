"""The metric declarations of BENCHMARK.json: names and units."""

from __future__ import annotations

import json
import os

PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load() -> dict:
    with open(PATH) as f:
        return json.load(f)


def units(kind: str) -> dict[str, str]:
    """``kind`` is ``end_to_end`` or ``per_layer``."""
    return {m["name"]: m["unit"] for m in load()[kind]}


def render(kind: str, values: dict[str, float]) -> dict[str, dict]:
    """Every declared metric of ``kind`` with its value and unit; a value
    missing or undeclared is a bug in the benchmark and raises."""
    u = units(kind)
    if set(values) != set(u):
        raise KeyError(
            f"{kind} metrics differ from BENCHMARK.json: missing {sorted(set(u) - set(values))}, "
            f"undeclared {sorted(set(values) - set(u))}"
        )
    return {name: {"value": float(values[name]), "unit": unit} for name, unit in u.items()}
