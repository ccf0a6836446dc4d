"""Metric definitions, summary statistics and the result payload.

``END_TO_END`` and ``PER_LAYER`` are the names and units
``BENCHMARK.json`` declares; the benchmark's tests pin the two
against each other. ``TARGETS`` records, for each per-layer metric,
the end-to-end metric and workload it should move.
"""

from __future__ import annotations

import json

from .trace import LAYERS

#: name -> (unit, better). Reported by every untraced run. A run has
#: 20 to 42 latency samples, too few for any tail percentile to have ten
#: samples beyond it, so the tail is printed with its sample count but
#: not gated.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cold_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "pipeline_p50_ms": ("ms", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

_LAYER_BUILD = {}
for _layer in LAYERS:
    _LAYER_BUILD[f"{_layer}.build_s"] = ("s", "lower")
    _LAYER_BUILD[f"{_layer}.eager_jobs"] = ("count", "lower")
    _LAYER_BUILD[f"{_layer}.eager_job_s"] = ("s", "lower")

#: name -> (unit, better). Reported by every traced run, per warm pass
#: (batch) or per warm drain (ingest); ``cold.*`` cover
#: the first pass or drain.
PER_LAYER = {
    "pipeline.load_table_calls": ("count", "lower"),
    "pipeline.load_table_s": ("s", "lower"),
    "pipeline.load_table_hit_ratio": ("ratio", "higher"),
    **_LAYER_BUILD,
    "catalyst.analysis_s": ("s", "lower"),
    "catalyst.optimization_s": ("s", "lower"),
    "catalyst.planning_s": ("s", "lower"),
    "codegen.compiles": ("count", "lower"),
    "scheduler.jobs": ("count", "lower"),
    "scheduler.stages": ("count", "lower"),
    "scheduler.tasks": ("count", "lower"),
    "scheduler.stages_skipped": ("count", "higher"),
    "scheduler.task_failures": ("count", "lower"),
    "scheduler.job_gap_s": ("s", "lower"),
    "executor.run_s": ("s", "lower"),
    "executor.cpu_s": ("s", "lower"),
    "executor.gc_s": ("s", "lower"),
    "executor.offcpu_s": ("s", "lower"),
    "executor.busy_frac": ("ratio", "higher"),
    "shuffle.write_bytes": ("bytes", "lower"),
    "shuffle.read_bytes": ("bytes", "lower"),
    "shuffle.spill_bytes": ("bytes", "lower"),
    "scan.input_bytes": ("bytes", "lower"),
    "scan.input_rows": ("count", "lower"),
    "python.bytes_sent": ("bytes", "lower"),
    "python.bytes_received": ("bytes", "lower"),
    "python.rows_received": ("count", "lower"),
    "python.run_s": ("s", "lower"),
    "python.boot_s": ("s", "lower"),
    "sink.output_bytes": ("bytes", "lower"),
    "sink.output_rows": ("count", "lower"),
    "sink.files": ("count", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.input_rows": ("count", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.commit_ms": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_bytes": ("bytes", "lower"),
    "streaming.late_rows_dropped": ("count", "lower"),
    "cold.pipeline.load_table_s": ("s", "lower"),
    "cold.pipeline.load_table_hit_ratio": ("ratio", "higher"),
    "cold.catalyst.planning_s": ("s", "lower"),
    "cold.codegen.compiles": ("count", "lower"),
    "cold.scheduler.job_gap_s": ("s", "lower"),
    "cold.python.boot_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.spans": ("count", "lower"),
}

#: per-layer metric prefix -> the end-to-end metrics (on workloads) it should move.
TARGETS = {
    "pipeline.": "batch wall_s, pipeline_p50_ms; cold_s on both workloads",
    "operators.": "batch wall_s, pipeline_p50_ms",
    "functions.": "batch wall_s",
    "objectmode.": "ingest pipeline_p50_ms (per micro-batch)",
    "streaming.": "ingest pipeline_p50_ms, wall_s",
    "sources.": "ingest wall_s",
    "catalyst.": "batch cold_s, pipeline_p50_ms",
    "codegen.": "batch cold_s, pipeline_p50_ms",
    "scheduler.": "batch wall_s",
    "executor.": "batch wall_s; offcpu_s -> ingest pipeline_p50_ms",
    "shuffle.": "batch wall_s",
    "scan.": "batch wall_s",
    "python.": "ingest pipeline_p50_ms, wall_s; zero on batch",
    "sink.": "ingest pipeline_p50_ms, wall_s",
    "cold.": "cold_s on the same workload",
    "trace.": "none: the tracing's own cost",
}


def per_pass(totals: dict[str, float], passes: int) -> dict[str, float]:
    """Per-layer totals over ``passes`` passes (or drains) as per-pass
    values. Ratio metrics are already shares over all the passes, so
    they are left as they are."""
    return {
        k: v if PER_LAYER.get(k, ("",))[0] == "ratio" else v / passes
        for k, v in totals.items()
    }


def percentile(values: list[float], q: float) -> float:
    """Inclusive linear-interpolated ``q``-quantile, ``0 <= q <= 1``."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def payload(correct: bool, attempted: int, failed: int, values: dict[str, float], defs: dict) -> str:
    """The one-line JSON result: exactly ``correct``, ``attempted``,
    ``failed`` and ``metrics`` (every name in ``defs``, with its unit)."""
    missing = set(defs) - set(values)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": defs[k][0]} for k in defs},
    })
