"""Layer counters recorded around the engine's public functions.

``install`` swaps each traced function for a wrapper that counts calls and
adds inclusive wall time to a ``Counters`` object. It must run before
``finance_reporting_etl_spark.queries`` and ``.pipeline`` are imported, so
their ``from ... import`` bindings pick up the wrappers; modules already
loaded that bound the original by name are rebound too.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "finance_reporting_etl_spark"

# (module, attribute, layer name). Times are inclusive: a stream run
# that swaps state counts the swap in both layers.
MODULE_FUNCTIONS = (
    ("tables", "_read_parquet", "tables.read"),
    ("sources.rest", "payloads_to_df", "sources.payloads_to_df"),
    ("sources.json_source", "flatten_observations", "sources.flatten"),
    ("streaming.staging", "stage_microbatches", "staging.stage_microbatches"),
    ("streaming.staging", "run_file_stream", "staging.run_file_stream"),
    ("streaming.merge", "overwrite_state_dir", "merge.overwrite_state_dir"),
)
# Methods are looked up on the class at call time, so patching the class
# reaches the module-level ``registry`` instance.
CLASS_METHODS = (
    ("plans.registry", "ModelRegistry", "run", "registry.run"),
    ("plans.registry", "ModelRegistry", "_build", "registry.models_built"),
)


class Counters:
    """Call counts and inclusive seconds per layer; thread-safe, because
    streaming ``foreachBatch`` bodies run on a py4j callback thread."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)

    def add(self, layer: str, seconds: float, calls: int = 1) -> None:
        with self._lock:
            self.calls[layer] += calls
            self.seconds[layer] += seconds

    def snapshot(self) -> tuple[dict[str, int], dict[str, float]]:
        with self._lock:
            return dict(self.calls), dict(self.seconds)


def _wrap(fn, layer: str, counters: Counters):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            counters.add(layer, time.perf_counter() - t0)

    return traced


def install(counters: Counters) -> None:
    for mod_name, attr, layer in MODULE_FUNCTIONS:
        mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
        original = getattr(mod, attr)
        wrapper = _wrap(original, layer, counters)
        for name, loaded in list(sys.modules.items()):
            if name.startswith(PACKAGE) and getattr(loaded, attr, None) is original:
                setattr(loaded, attr, wrapper)
    for mod_name, cls_name, attr, layer in CLASS_METHODS:
        cls = getattr(importlib.import_module(f"{PACKAGE}.{mod_name}"), cls_name)
        setattr(cls, attr, _wrap(getattr(cls, attr), layer, counters))
