"""The four workloads.  Each module defines a class with

- ``inputs`` / ``extra_conf``: prepared tables and session settings,
- ``references()``: expected outputs computed with DuckDB (untimed),
- ``register(spark)`` and ``warmup(spark)``: the timed set-up after the
  session starts,
- ``measure(spark, seconds, tracer)``: the measured loop, returning a
  ``PhaseResult`` whose outputs are already checked,
- ``not_on_path``: per-layer metric prefixes this workload never reaches
  while measuring (keys of ``run.NOT_ON_PATH``).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class PhaseResult:
    latencies: list = field(default_factory=list)  # seconds, one per op
    latency_p50_s: float = 0.0
    latency_p90_s: float = 0.0
    rows_per_s: float = 0.0
    attempted: int = 0
    ops: int = 0  # divisor of the per-op layer metrics; 0 means ``attempted``
    failed: int = 0
    layer: dict = field(default_factory=dict)  # workload-specific per-layer metrics
    diag: dict = field(default_factory=dict)  # printed beside the metrics


def get(name: str):
    if name == "etl_batch":
        from .etl_batch import EtlBatch as cls
    elif name == "sync_requests":
        from .sync_requests import SyncRequests as cls
    elif name == "stream_events":
        from .stream_events import StreamEvents as cls
    elif name == "text_dedup":
        from .text_dedup import TextDedup as cls
    else:
        raise ValueError(f"unknown workload {name!r}")
    return cls
