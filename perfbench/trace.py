"""Tracing for the per-layer run: spans recorded around calls into the
program's layers, and Spark's own accounting read from its status
stores. Nothing here edits the program: layer functions are wrapped
where the ``datasplash_spark`` modules bind them, for the traced runs
only, and restored afterwards.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: The layers whose build time is reported (``pipeline`` is reported
#: through ``load_table`` alone), in reporting order.
LAYERS = ("operators", "functions", "objectmode", "sources", "streaming")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start_ns: int
    end_ns: int
    parent: int | None
    trace: int
    attrs: dict = field(default_factory=dict)

    @property
    def dur_s(self) -> float:
        return (self.end_ns - self.start_ns) / 1e9

    def to_json(self) -> dict:
        return {
            "id": self.id, "name": self.name, "layer": self.layer,
            "start_ns": self.start_ns, "end_ns": self.end_ns,
            "parent": self.parent, "trace": self.trace, **self.attrs,
        }


class SpanRecorder:
    """Spans kept in memory; each thread keeps its own stack, and a span
    opened with an empty stack starts a new trace."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        #: load_table arguments -> the result of the last such call
        self._loaded: dict = {}

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        parent, trace = (stack[-1], stack[-1][1]) if stack else (None, sid)
        stack.append((sid, trace))
        s = Span(sid, name, layer, time.time_ns(), 0, parent[0] if parent else None, trace, attrs)
        try:
            yield s
        finally:
            s.end_ns = time.time_ns()
            stack.pop()
            self.spans.append(s)

    def repeats(self, key: tuple, result) -> bool:
        """Whether an earlier call with the same arguments returned
        this very object (a hit of the program's relation cache)."""
        hit = self._loaded.get(key) is result
        self._loaded[key] = result
        return hit


# ------------------------------------------------------------ wrapping


def _public_defined(mod) -> list[str]:
    return [
        n for n, v in vars(mod).items()
        if not n.startswith("_") and inspect.isfunction(v) and v.__module__ == mod.__name__
    ]


def layer_functions() -> dict[int, tuple]:
    """id(function) -> (function, layer, span name) for every public
    function of every layer: the names in the layer's ``__all__``; for
    ``functions`` (whose ``__all__`` lists kernel modules) the public
    functions of those modules; for ``objectmode`` (no ``__all__``) its
    public module functions."""
    import datasplash_spark as ds
    from datasplash_spark import functions, objectmode, operators, pipeline, sources, streaming

    out: dict[int, tuple] = {}

    def add(layer: str, mod, names) -> None:
        for n in names:
            f = getattr(mod, n, None)
            if inspect.isfunction(f):
                out[id(f)] = (f, layer, f"{layer}.{n}")

    add("pipeline", pipeline, [n for n in ds.__all__ if getattr(ds, n) is getattr(pipeline, n, None)])
    add("operators", operators, operators.__all__)
    add("sources", sources, sources.__all__)
    add("streaming", streaming, streaming.__all__)
    add("objectmode", objectmode, _public_defined(objectmode))
    for sub in functions.__all__:
        mod = getattr(functions, sub)
        add("functions", mod, _public_defined(mod))
    return out


def _wrap(rec: SpanRecorder, fn, layer: str, name: str):
    if name == "pipeline.load_table":
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with rec.span(name, layer) as s:
                out = fn(*args, **kwargs)
            key = (id(args[0]),) + tuple(args[1:]) + tuple(sorted(kwargs.items()))
            s.attrs["hit"] = rec.repeats(key, out)
            return out
    else:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with rec.span(name, layer):
                return fn(*args, **kwargs)
    return traced


@contextmanager
def layer_spans(rec: SpanRecorder):
    """Wrap every layer function in every ``datasplash_spark`` module
    that binds it, plus ``objectmode.PCollection``'s public methods;
    restore the originals on exit. The wrappers keep ``__module__`` and
    ``__qualname__``, so closures shipped to Python workers still
    pickle them by reference and workers run the unwrapped originals."""
    from datasplash_spark.objectmode import PCollection

    targets = layer_functions()
    wrappers = {i: _wrap(rec, f, layer, name) for i, (f, layer, name) in targets.items()}
    undo: list[tuple] = []
    for mname, mod in list(sys.modules.items()):
        if mod is None or not (mname == "datasplash_spark" or mname.startswith("datasplash_spark.")):
            continue
        for attr, val in list(vars(mod).items()):
            w = wrappers.get(id(val))
            if w is not None:
                undo.append((mod, attr, val))
                setattr(mod, attr, w)
    for attr, val in list(vars(PCollection).items()):
        if attr.startswith("_"):
            continue
        name = f"objectmode.PCollection.{attr}"
        if inspect.isfunction(val):
            new = _wrap(rec, val, "objectmode", name)
        elif isinstance(val, classmethod):
            new = classmethod(_wrap(rec, val.__func__, "objectmode", name))
        else:
            continue
        undo.append((PCollection, attr, val))
        setattr(PCollection, attr, new)
    try:
        yield
    finally:
        for obj, attr, val in reversed(undo):
            setattr(obj, attr, val)


# ------------------------------------------------------ status stores


def _it(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def read_jobs(spark) -> list[dict]:
    """Every job the app status store still holds."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    for j in _it(store.jobsList(None)):
        jobs.append({
            "id": j.jobId(),
            "start_ms": _opt_ms(j.submissionTime()),
            "end_ms": _opt_ms(j.completionTime()),
            "stages": list(_it(j.stageIds())),
            "tasks": j.numCompletedTasks(),
            "failed_tasks": j.numFailedTasks(),
            "stages_done": j.numCompletedStages(),
            "stages_skipped": j.numSkippedStages(),
        })
    return jobs


STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write": "shuffleWriteBytes",
    "shuffle_read": "shuffleReadBytes",
    "spill_mem": "memoryBytesSpilled",
    "spill_disk": "diskBytesSpilled",
    "input_bytes": "inputBytes",
    "input_rows": "inputRecords",
}


def read_stages(spark) -> dict[int, dict]:
    """stage id -> task metrics summed over the stage's attempts."""
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    empty = gw.jvm.java.util.ArrayList()
    quant = gw.new_array(gw.jvm.double, 0)
    out: dict[int, dict] = {}
    for sd in _it(store.stageList(empty, False, False, quant, empty)):
        acc = out.setdefault(sd.stageId(), dict.fromkeys(STAGE_FIELDS, 0))
        for k, getter in STAGE_FIELDS.items():
            acc[k] += getattr(sd, getter)()
    return out


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Parse one SQL metric as the status store formats it: a total
    (``"1,234"``, ``"2.3 KiB"``, ``"15 ms"``), or a per-task summary
    whose second line starts with the total."""
    line = text.strip().split("\n")[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    return num * _TIME.get(unit, 1.0)


PY_METRICS = {
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_received",
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_boot_s",
}
SINK_METRICS = {
    "number of written files": "sink_files",
    "written output": "sink_bytes",
    "number of output rows": "sink_rows",
}
_PY_NODE = re.compile(r"InPandas|InArrow|Python")


def read_sql(spark, since_ms: int) -> list[dict]:
    """SQL executions submitted at or after ``since_ms``, with their
    Python-worker and file-sink metrics summed over the plan's nodes."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for ex in _it(store.executionsList()):
        if ex.submissionTime() < since_ms:
            continue
        eid = ex.executionId()
        names = {m.name() for m in _it(ex.metrics())}
        row = {"id": eid, "start_ms": ex.submissionTime(), "end_ms": _opt_ms(ex.completionTime())}
        if names & (set(PY_METRICS) | {"number of written files"}):
            values = {kv._1(): kv._2() for kv in _it(store.executionMetrics(eid))}
            for node in _it(store.planGraph(eid).allNodes()):
                nname = node.name()
                is_py = bool(_PY_NODE.search(nname))
                is_sink = "InsertIntoHadoopFsRelation" in nname
                if not (is_py or is_sink):
                    continue
                for m in _it(node.metrics()):
                    key = (PY_METRICS if is_py else SINK_METRICS).get(m.name())
                    if key is None and is_py and m.name() == "number of output rows":
                        key = "py_rows"
                    if key is not None and m.accumulatorId() in values:
                        row[key] = row.get(key, 0.0) + metric_value(values[m.accumulatorId()])
        out.append(row)
    return out


def codegen_compiles(spark) -> int:
    """Whole-stage and expression codegen compilations so far (JVM-wide)."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def query_phases(jqe) -> dict[str, float]:
    """Catalyst phase durations (s) from a QueryExecution's tracker."""
    out = {}
    phases = jqe.tracker().phases()
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


# ------------------------------------------------------------ metrics


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its child spans cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start_ns / 1e9, s.end_ns / 1e9))
    return {s.id: s.dur_s - _union_s(kids.get(s.id, [])) for s in spans}


def _job_window(j: dict, now_ms: int) -> tuple[float, float] | None:
    if j["start_ms"] is None:
        return None
    return j["start_ms"] / 1e3, (j["end_ms"] if j["end_ms"] is not None else now_ms) / 1e3


def attribute_jobs(spans: list[Span], jobs: list[dict]) -> dict[int, list]:
    """Span id -> windows of the jobs submitted while it was the
    innermost open span (latest start among those containing the
    job's submission time)."""
    now_ms = int(time.time() * 1e3)
    out: dict[int, list] = {}
    ordered = sorted(spans, key=lambda s: s.start_ns)
    for j in jobs:
        w = _job_window(j, now_ms)
        if w is None:
            continue
        t_ns = w[0] * 1e9
        best = None
        for s in ordered:
            if s.start_ns > t_ns:
                break
            if s.end_ns >= t_ns:
                best = s
        if best is not None:
            out.setdefault(best.id, []).append(w)
    return out


def window_accounting(windows: list[tuple[float, float]], jobs, stages, sql, cpus: int) -> dict:
    """Scheduler, executor, data-movement, Python and sink totals for
    jobs and SQL executions submitted inside ``windows`` (epoch s)."""
    now_ms = int(time.time() * 1e3)

    def inside(t_ms) -> bool:
        return t_ms is not None and any(a <= t_ms / 1e3 <= b for a, b in windows)

    sel = [j for j in jobs if inside(j["start_ms"])]
    stage_ids = {s for j in sel for s in j["stages"]}
    st = [stages[s] for s in stage_ids if s in stages]
    busy = 0.0
    for a, b in windows:
        busy += _union_s([
            (max(a, w[0]), min(b, w[1]))
            for j in sel if (w := _job_window(j, now_ms)) and w[1] > a and w[0] < b
        ])
    wall = sum(b - a for a, b in windows)
    tot = {k: sum(s[k] for s in st) for k in STAGE_FIELDS}
    run_s, cpu_s = tot["run_ms"] / 1e3, tot["cpu_ns"] / 1e9
    out = {
        "scheduler.jobs": len(sel),
        "scheduler.stages": sum(j["stages_done"] for j in sel),
        "scheduler.tasks": sum(j["tasks"] for j in sel),
        "scheduler.stages_skipped": sum(j["stages_skipped"] for j in sel),
        "scheduler.task_failures": sum(j["failed_tasks"] for j in sel),
        "scheduler.job_gap_s": wall - busy,
        "executor.run_s": run_s,
        "executor.cpu_s": cpu_s,
        "executor.gc_s": tot["gc_ms"] / 1e3,
        "executor.offcpu_s": max(run_s - cpu_s, 0.0),
        "executor.busy_frac": run_s / (wall * cpus) if wall > 0 else 0.0,
        "shuffle.write_bytes": tot["shuffle_write"],
        "shuffle.read_bytes": tot["shuffle_read"],
        "shuffle.spill_bytes": tot["spill_mem"] + tot["spill_disk"],
        "scan.input_bytes": tot["input_bytes"],
        "scan.input_rows": tot["input_rows"],
    }
    ex = [e for e in sql if inside(e["start_ms"])]
    for name, key in (
        ("python.bytes_sent", "py_sent"),
        ("python.bytes_received", "py_received"),
        ("python.rows_received", "py_rows"),
        ("python.run_s", "py_run_s"),
        ("python.boot_s", "py_boot_s"),
        ("sink.output_bytes", "sink_bytes"),
        ("sink.output_rows", "sink_rows"),
        ("sink.files", "sink_files"),
    ):
        out[name] = sum(e.get(key, 0.0) for e in ex)
    return out


def layer_build(spans: list[Span], jobs: list[dict]) -> dict:
    """Per layer: driver self time in its public calls minus the time of
    the jobs those calls started (``build_s``), and those jobs' count
    and busy time (``eager_jobs``, ``eager_job_s``)."""
    selft = self_times(spans)
    by_span = attribute_jobs(spans, jobs)
    out = {}
    for layer in LAYERS:
        build = eager = 0.0
        n = 0
        for s in spans:
            if s.layer != layer:
                continue
            ws = [(max(a, s.start_ns / 1e9), min(b, s.end_ns / 1e9)) for a, b in by_span.get(s.id, [])]
            busy = _union_s([w for w in ws if w[1] > w[0]])
            build += max(selft[s.id] - busy, 0.0)
            eager += busy
            n += len(ws)
        out[f"{layer}.build_s"] = build
        out[f"{layer}.eager_jobs"] = n
        out[f"{layer}.eager_job_s"] = eager
    loads = [s for s in spans if s.name == "pipeline.load_table"]
    out["pipeline.load_table_calls"] = len(loads)
    out["pipeline.load_table_s"] = sum(s.dur_s for s in loads)
    out["pipeline.load_table_hit_ratio"] = (
        sum(bool(s.attrs.get("hit")) for s in loads) / len(loads) if loads else 0.0
    )
    return out
