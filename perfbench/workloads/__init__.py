"""The workloads, one module each; BENCHMARK.json says why each was
chosen. Each module exposes `run(run) -> (e2e, named)`: `e2e` holds
the end-to-end metrics every workload reports and `named` the figures
under the workload's own names (wall times included), for the
human-readable report."""

from __future__ import annotations

import importlib

WORKLOADS = ("search", "pipeline")


def get(name: str):
    if name not in WORKLOADS:
        raise KeyError(name)
    return importlib.import_module(f"{__name__}.{name}").run
