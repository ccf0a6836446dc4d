"""The two workloads. Each is a closed loop with one client: the next
pipeline or micro-batch starts only after the previous one completed.

- ``batch``: expression-mode registry pipelines over the TPC-H-ish
  tables and ``events`` (operators, plus the fixed cost of pipeline
  building, Catalyst and job scheduling), then two LLM-data kernels of
  ``functions`` over ``documents`` and ``embeddings`` (executor CPU,
  shuffle, eager driver-side jobs).
- ``ingest``: a Structured Streaming drain of JSON-lines shards through
  ``streaming.dedup_stream``, an object-mode pipeline per micro-batch
  and ``streaming.idempotent_parquet_batch_writer`` (Python workers,
  state, a file sink).

A batch workload runs every pipeline once (the cold pass), then warm
passes. The ingest workload runs one cold drain, then warm drains; each
drain is a fresh streaming query fed one shard at a time. The number of
warm passes (or drains) is ``seconds`` over the workload's nominal pass
time, fixed by the requested run length alone: a loop that ran until
the time was up would run more passes on a faster host, and since
passes keep getting faster as the JIT warms up, the medians would then
move with host speed in steps.

A warm pass's wall is reported step by step: the median latency of
each pipeline (or of each drain's start and each shard's micro-batch)
over the warm passes, summed. A burst of load from elsewhere on the
host that slows one step of one pass then moves no median.

In a traced run every warm pipeline (or drain) runs twice, once with
layer spans and once without, in alternating order; per-layer metrics
come from the traced runs and the difference is the tracing overhead.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass, field

from . import check, inputs, records
from . import metrics as M
from . import trace as tr
from statistics import median

#: One pipeline per reference operator family: filter/map, combine and
#: group by key, top-k, joins and cogroup, set operations, fixed/sliding/
#: session windows, rollup, as-of and range joins.
RELATIONAL = (
    "filter_project", "group_by_key", "top_per_nation", "join_multiway",
    "cogroup_counts", "setops_intersect", "window_fixed", "window_sliding",
    "window_session", "rollup", "asof_last_view", "range_join_error_window",
)
#: ``functions`` kernels: IVF vector search, which starts eager jobs
#: inside its build, and n-gram counting, which shuffles. The near-dup
#: kernels are left out because their DuckDB oracles take about 7 s per
#: seed, and ``semantic_dedup`` because its ``centroid_cos`` is rounded
#: twice (to 9, then 6 decimals), which at 2000 vectors disagrees with
#: its oracle on some seeds.
CURATION = ("similarity_ivf", "ngram_counts")
TPCH = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
CORPUS = ("documents", "embeddings")


@dataclass
class Outcome:
    """What one run measured. Times in seconds."""

    cold_s: float = 0.0
    warm_walls: list[float] = field(default_factory=list)
    samples: list[float] = field(default_factory=list)
    #: warm latencies by step (pipeline, or drain start and shard)
    steps: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def step(self, name: str, lat: float) -> None:
        self.steps.setdefault(name, []).append(lat)

    @property
    def wall_s(self) -> float:
        """A typical warm pass: each step's median latency, summed."""
        return sum(median(v) for v in self.steps.values())


@dataclass
class Context:
    spark: object
    work: str
    seconds: float
    cpus: int
    rec: tr.SpanRecorder | None = None

    def passes(self, nominal_s: float) -> int:
        """Warm passes (drains) to run: ``seconds`` of nominal work."""
        return max(1, round(self.seconds / nominal_s))


# ------------------------------------------------------------ batch


@dataclass
class BatchWorkload:
    names: tuple[str, ...]
    tables: tuple[str, ...]
    #: warm passes are ``seconds`` over this: 2 at ``--seconds 15``; a
    #: warm pass took 7-9 s (4 cores, 2.1 GHz)
    nominal_pass_s: float = 7.0

    def prepare(self, root_cache: str, seed: int) -> dict:
        from datasplash_spark import queries as Q

        sf_dir = inputs.write_tables(root_cache, seed, self.tables)
        oracles = {n: Q.REGISTRY[n][1] for n in self.names}
        return {
            "sf_dir": sf_dir,
            "fns": {n: Q.REGISTRY[n][0] for n in self.names},
            "expected": check.oracle_digests(sf_dir, self.tables, oracles),
        }

    def _plain(self, ctx: Context, fn: Callable, sf_dir: str):
        t0 = time.perf_counter()
        df = fn(ctx.spark, sf_dir)
        rows = df.collect()
        return time.perf_counter() - t0, df.columns, rows

    def _traced(self, ctx: Context, name: str, fn: Callable, sf_dir: str, tag: str):
        rec = ctx.rec
        c0 = tr.codegen_compiles(ctx.spark)
        with tr.layer_spans(rec):
            with rec.span("run", "bench", pipeline=name, tag=tag) as root:
                with rec.span("build", "bench"):
                    df = fn(ctx.spark, sf_dir)
                with rec.span("action", "bench"):
                    rows = df.collect()
        root.attrs["codegen"] = tr.codegen_compiles(ctx.spark) - c0
        root.attrs.update(tr.query_phases(df._jdf.queryExecution()))
        return root.dur_s, df.columns, rows

    def _one(self, ctx, prep, out: Outcome, name: str, traced: bool, tag: str) -> float:
        """Run one pipeline and check its result; returns its latency
        (on failure, the time until it failed)."""
        fn, sf_dir = prep["fns"][name], prep["sf_dir"]
        t0 = time.perf_counter()
        try:
            if traced:
                lat, cols, rows = self._traced(ctx, name, fn, sf_dir, tag)
            else:
                lat, cols, rows = self._plain(ctx, fn, sf_dir)
        except Exception as e:  # a failing pipeline is a failed operation
            out.record(False, f"{name}: {type(e).__name__}: {str(e)[:200]}")
            return time.perf_counter() - t0
        got = check.digest(cols, rows)
        out.record(got == prep["expected"][name], f"{name}: got {got}, expected {prep['expected'][name]}")
        return lat

    def run(self, ctx: Context, prep: dict, trace: bool) -> Outcome:
        out = Outcome()
        out.cold_s = sum(self._one(ctx, prep, out, n, trace, "cold") for n in self.names)
        overheads = []
        # a traced pass runs every pipeline twice
        passes = ctx.passes(self.nominal_pass_s)
        passes = max(1, passes // 2) if trace else passes
        for p in range(passes):
            plain = traced = 0.0
            for i, n in enumerate(self.names):
                if not trace:
                    lat = self._one(ctx, prep, out, n, False, "warm")
                    out.samples.append(lat)
                    out.step(n, lat)
                    plain += lat
                    continue
                order = (True, False) if (i + p) % 2 == 0 else (False, True)
                for t in order:
                    lat = self._one(ctx, prep, out, n, t, "warm")
                    if t:
                        traced += lat
                    else:
                        plain += lat
                        out.samples.append(lat)
                        out.step(n, lat)
            out.warm_walls.append(plain)
            overheads.append(traced - plain)
        if trace:
            out.layer = self._layer_metrics(ctx, passes, overheads)
        return out

    def _layer_metrics(self, ctx: Context, passes: int, overheads: list[float]) -> dict:
        spans = ctx.rec.spans
        roots = [s for s in spans if s.name == "run"]
        jobs = tr.read_jobs(ctx.spark)
        stages = tr.read_stages(ctx.spark)
        since = min(s.start_ns for s in roots) // 10**6
        sql = tr.read_sql(ctx.spark, since)
        res = {}
        for tag, per in (("warm", passes), ("cold", 1)):
            rs = [r for r in roots if r.attrs["tag"] == tag]
            traces = {r.trace for r in rs}
            sub = [s for s in spans if s.trace in traces]
            m = tr.window_accounting(
                [(r.start_ns / 1e9, r.end_ns / 1e9) for r in rs], jobs, stages, sql, ctx.cpus
            )
            m.update(tr.layer_build(sub, jobs))
            for ph in ("analysis", "optimization", "planning"):
                m[f"catalyst.{ph}_s"] = sum(r.attrs[ph] for r in rs)
            m["codegen.compiles"] = sum(r.attrs["codegen"] for r in rs)
            m["trace.spans"] = len(sub)
            m.update(_no_streaming())
            res[tag] = M.per_pass(m, per)
        return _merge_cold(res, median(overheads))


def _no_streaming() -> dict:
    return {
        "streaming.batches": 0, "streaming.input_rows": 0, "streaming.add_batch_ms": 0,
        "streaming.commit_ms": 0, "streaming.state_rows": 0, "streaming.state_bytes": 0,
        "streaming.late_rows_dropped": 0,
    }


def _merge_cold(res: dict, overhead_s: float) -> dict:
    warm, cold = res["warm"], res["cold"]
    for k in ("pipeline.load_table_s", "pipeline.load_table_hit_ratio",
              "catalyst.planning_s", "codegen.compiles", "scheduler.job_gap_s", "python.boot_s"):
        warm[f"cold.{k}"] = cold[k]
    warm["trace.overhead_s"] = overhead_s
    return warm


# ------------------------------------------------------------ ingest


class IngestWorkload:
    #: warm drains are ``seconds`` over this: 3 at ``--seconds 15``; a
    #: warm drain took 7-9 s (4 cores, 2.1 GHz)
    nominal_pass_s = 5.5

    def prepare(self, root_cache: str, seed: int) -> dict:
        shards = inputs.write_shards(root_cache, seed)
        msgs = [check.read_shard(p) for p in shards]
        return {"shards": shards, "expected": check.expected_sink(msgs, inputs.WATERMARK_S)}

    def _drain(self, ctx: Context, prep: dict, k: int, traced: bool, out: Outcome) -> dict:
        """One drain: a fresh streaming query, fed one shard at a time,
        each fed only after the previous micro-batch committed. Checks
        every batch's sink output; returns the drain's timings."""
        from datasplash_spark import objectmode, sources, streaming

        work = os.path.join(ctx.work, f"drain-{k}")
        shutil.rmtree(work, ignore_errors=True)
        in_dir, stage, out_dir = (os.path.join(work, d) for d in ("in", "stage", "out"))
        os.makedirs(in_dir)
        os.makedirs(stage)
        names = []
        for path in prep["shards"]:
            names.append(os.path.basename(path))
            shutil.copyfile(path, os.path.join(stage, names[-1]))
        rec = ctx.rec if traced else None
        writer = streaming.idempotent_parquet_batch_writer(out_dir)

        def pipeline(batch_df, batch_id):
            pc = (
                objectmode.PCollection.from_dataframe(batch_df)
                .map(records.present)
                .filter(records.not_error)
                .combine_by(records.bucket_key, records.COMBINER)
                .map(records.to_row)
            )
            writer(pc.to_dataframe(batch_df.sparkSession, records.OUTPUT_SCHEMA), batch_id)

        def batch_fn(batch_df, batch_id):
            if rec is None:
                return pipeline(batch_df, batch_id)
            with rec.span("batch", "bench", batch=int(batch_id), drain=k):
                return pipeline(batch_df, batch_id)

        lat, phases, err = [], [], None
        t0 = time.perf_counter()
        start_s, q = 0.0, None
        try:
            with tr.layer_spans(rec) if rec else nullcontext(), (
                rec.span("drain", "bench", drain=k) if rec else nullcontext()
            ):
                stream = sources.read_json_file(
                    ctx.spark, in_dir, schema=inputs.INGEST_SCHEMA, watch_new_files=True
                )
                q = streaming.foreach_batch_sink(
                    streaming.dedup_stream(
                        stream, ["event_id"], event_time="ts",
                        watermark=f"{inputs.WATERMARK_S} seconds",
                    ),
                    batch_fn,
                    os.path.join(work, "ckpt"),
                    query_name=f"ingest_{k}",
                )
                start_s = time.perf_counter() - t0
                for name in names:
                    t = time.perf_counter()
                    os.replace(os.path.join(stage, name), os.path.join(in_dir, name))
                    q.processAllAvailable()
                    lat.append(time.perf_counter() - t)
                    if rec is not None:
                        phases.append(tr.query_phases(q._jsq.streamingQuery().lastExecution()))
        except Exception as e:  # a failed drain fails every batch it did not finish
            err = f"drain {k}: {type(e).__name__}: {str(e)[:200]}"
        progress = list(q.recentProgress) if q is not None else []
        if q is not None:
            q.stop()
        got = check.sink_digests(out_dir)
        empty = check.digest([], [])
        for b, want in enumerate(prep["expected"]):
            ok = err is None and got.get(b, empty) == want
            out.record(ok, err or f"drain {k} batch {b}: got {got.get(b, empty)}, expected {want}")
        shutil.rmtree(work, ignore_errors=True)
        return {
            "wall": start_s + sum(lat),
            "start": start_s,
            "lat": lat,
            "progress": progress,
            "phases": phases,
        }

    def run(self, ctx: Context, prep: dict, trace: bool) -> Outcome:
        out = Outcome()
        c0 = tr.codegen_compiles(ctx.spark) if trace else 0
        first = self._drain(ctx, prep, 0, trace, out)
        cold_codegen = tr.codegen_compiles(ctx.spark) - c0 if trace else 0
        # the whole first drain is what a one-shot drain job pays; its
        # batches are not latency samples, since Python workers and the
        # JIT keep speeding batches up for a few triggers after the first
        out.cold_s = first["wall"]
        traced_drains, traced_walls, codegen = [], [], 0
        # a traced run alternates traced and plain drains, at least one each
        drains = ctx.passes(self.nominal_pass_s)
        for k in range(1, 1 + (max(2, drains) if trace else drains)):
            t = trace and k % 2 == 1
            c0 = tr.codegen_compiles(ctx.spark) if t else 0
            d = self._drain(ctx, prep, k, t, out)
            if t:
                codegen += tr.codegen_compiles(ctx.spark) - c0
                traced_drains.append(d)
                traced_walls.append(d["wall"])
            else:
                out.warm_walls.append(d["wall"])
                out.samples.extend(d["lat"])
                out.step("start", d["start"])
                for b, lat in enumerate(d["lat"]):
                    out.step(f"shard-{b}", lat)
        if trace:
            overhead = median(traced_walls) - median(out.warm_walls)
            out.layer = self._layer_metrics(ctx, first, traced_drains, cold_codegen, codegen, overhead)
        return out

    def _layer_metrics(self, ctx, first, drains, cold_codegen, codegen, overhead) -> dict:
        spans = ctx.rec.spans
        drain_spans = {s.attrs["drain"]: s for s in spans if s.name == "drain"}
        jobs = tr.read_jobs(ctx.spark)
        stages = tr.read_stages(ctx.spark)
        since = min(s.start_ns for s in drain_spans.values()) // 10**6
        sql = tr.read_sql(ctx.spark, since)
        res = {}
        for tag, ds in (("cold", [first]), ("warm", drains)):
            ids = [0] if tag == "cold" else sorted(k for k in drain_spans if k != 0)
            roots = [drain_spans[i] for i in ids]
            windows = [(r.start_ns / 1e9, r.end_ns / 1e9) for r in roots]
            inside = [s for s in spans if any(a <= s.start_ns / 1e9 <= b for a, b in windows)]
            m = tr.window_accounting(windows, jobs, stages, sql, ctx.cpus)
            m.update(tr.layer_build(inside, jobs))
            m.update(_streaming(ds))
            m["catalyst.analysis_s"] = sum(p["analysis"] for d in ds for p in d["phases"])
            m["catalyst.optimization_s"] = sum(p["optimization"] for d in ds for p in d["phases"])
            m["catalyst.planning_s"] = sum(
                pr["durationMs"].get("queryPlanning", 0) / 1e3 for d in ds for pr in d["progress"]
            )
            m["codegen.compiles"] = cold_codegen if tag == "cold" else codegen
            m["trace.spans"] = len(inside)
            res[tag] = M.per_pass(m, max(len(ds), 1))
        return _merge_cold(res, overhead)


def _streaming(drains: list[dict]) -> dict:
    prog = [p for d in drains for p in d["progress"]]
    state = [d["progress"][-1]["stateOperators"][0] for d in drains if d["progress"]]
    return {
        "streaming.batches": len(prog),
        "streaming.input_rows": sum(p["numInputRows"] for p in prog),
        "streaming.add_batch_ms": sum(p["durationMs"].get("addBatch", 0) for p in prog),
        "streaming.commit_ms": sum(
            p["durationMs"].get("commitOffsets", 0) + p["durationMs"].get("walCommit", 0)
            for p in prog
        ),
        "streaming.state_rows": sum(s["numRowsTotal"] for s in state),
        "streaming.state_bytes": sum(s["memoryUsedBytes"] for s in state),
        "streaming.late_rows_dropped": sum(
            op["numRowsDroppedByWatermark"] for p in prog for op in p["stateOperators"]
        ),
    }


WORKLOADS = {
    "batch": BatchWorkload(RELATIONAL + CURATION, TPCH + CORPUS),
    "ingest": IngestWorkload(),
}
