"""Seeded end-to-end and per-layer benchmark of yetisearch_spark."""

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spec() -> dict:
    """``BENCHMARK.json`` at the checkout root: workloads, metric names,
    units and bounds."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def units(kind: str) -> dict[str, str]:
    """name → unit of every ``end_to_end`` or ``per_layer`` metric."""
    return {m["name"]: m["unit"] for m in spec()[kind]}
