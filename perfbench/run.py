"""Pipeline benchmark for datasplash_spark.

Run from the root of a checkout::

    python3 perfbench/run.py --workload batch --seed 1 --seconds 15 --trace 0

Workloads are ``batch`` and ``ingest`` (see ``workloads.py``); inputs
are generated from ``--seed`` (``inputs.py``) and every output is
checked (``check.py``). With ``--trace 0`` the run
reports the end-to-end metrics, with ``--trace 1`` the per-layer ones
(``metrics.py``). Every metric is printed by name with its unit; the
last stdout line is the JSON result. A JSON artifact with the run
environment, samples and (traced) spans goes to ``.perfbench_out/``.

Spark runs in this process at ``local[N]``, N the CPUs this process may
use, with a 2g heap. All scratch files stay under the checkout. Where
the OS allows it, the run raises its own scheduling priority (and so
that of the JVM and the Python workers it starts), so that other
processes on the machine disturb its timings less.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

ROOT = os.getcwd()
#: Driver heap. make_session pins and pre-touches it, so it sets most of
#: the JVM's resident memory; small enough to leave the host room.
HEAP = "2g"
#: Scheduling priority (nice value) the run asks for.
NICE = -20


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("batch", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(cpus: int) -> dict:
    """Point Spark, the JVM and Python temp files into the checkout."""
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {"work": work, "cache": os.path.join(ROOT, ".perfbench_cache")}


def _raise_priority() -> int:
    """Ask for priority ``NICE``; threads and processes started later
    inherit it. Returns the priority the run got."""
    try:
        os.setpriority(os.PRIO_PROCESS, 0, NICE)
    except OSError:
        pass  # not permitted: run at the priority we were given
    return os.getpriority(os.PRIO_PROCESS, 0)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of ``pids``."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def _stop(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = _descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for p in pids:
        while os.path.exists(f"/proc/{p}") and _state(p) != "Z":
            if time.monotonic() > deadline:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
                break
            time.sleep(0.05)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "Z"


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "datasplash_spark", "__init__.py")):
        print(f"perfbench: no datasplash_spark package under {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics as M
    from perfbench import trace as tr
    from perfbench import workloads as W

    nice = _raise_priority()
    cpus = len(os.sched_getaffinity(0))
    dirs = _prepare_env(cpus)
    workload = W.WORKLOADS[args.workload]

    t_in = time.perf_counter()
    import datasplash_spark  # noqa: F401  (exports its location to workers' PYTHONPATH)
    from datasplash_spark.pipeline import PipelineOptions, make_session

    prep = workload.prepare(dirs["cache"], args.seed)
    inputs_s = time.perf_counter() - t_in

    t0 = time.perf_counter()
    spark = make_session(PipelineOptions(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        },
    ))
    spark.range(1000).selectExpr("sum(id)").collect()
    setup_s = time.perf_counter() - t0

    from pyspark import SparkContext

    jvm = spark.sparkContext._jvm
    env = {
        "master": spark.sparkContext.master,
        "cpus": cpus,
        "nproc": os.cpu_count(),
        "heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "nice": nice,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": jvm.System.getProperty("java.version"),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
    }
    ctx = W.Context(spark, dirs["work"], args.seconds, cpus,
                    tr.SpanRecorder() if args.trace else None)
    try:
        out = workload.run(ctx, prep, bool(args.trace))
        rss = _peak_rss_mb(_descendants(SparkContext._gateway.proc.pid))
    finally:
        _stop(spark)

    if args.trace:
        defs, values = M.PER_LAYER, out.layer
    else:
        defs = M.END_TO_END
        values = {
            "setup_s": setup_s,
            "cold_s": out.cold_s,
            "wall_s": out.wall_s,
            "pipeline_p50_ms": 1e3 * M.percentile(out.samples or [0.0], 0.5),
            "peak_rss_mb": rss,
        }
    failed = len(out.failures)
    print(f"env {json.dumps(env)}")
    print(f"inputs_s = {inputs_s:.3f} s (generate + oracles, untimed)")
    tail = 1e3 * max(out.samples or [0.0])
    print(f"samples: {len(out.samples)} warm pipeline latencies (max {tail:.1f} ms), "
          f"{len(out.warm_walls)} warm passes/drains")
    print(f"fail_ratio = {failed / max(out.attempted, 1):.4f} ({failed} of {out.attempted})")
    for f in out.failures[:10]:
        print(f"FAILED {f}", file=sys.stderr)
    for name, (unit, _better) in defs.items():
        print(f"metric {name} = {values[name]:.6g} {unit}")
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    artifact = os.path.join(
        ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(artifact, "w") as f:
        json.dump({
            "env": env,
            "metrics": {k: {"value": values[k], "unit": defs[k][0]} for k in defs},
            "setup_s": setup_s,
            "warm_walls": out.warm_walls,
            "steps": out.steps,
            "samples": out.samples,
            "attempted": out.attempted,
            "failures": out.failures,
            "targets": M.TARGETS,
            "spans": [s.to_json() for s in ctx.rec.spans] if ctx.rec else [],
        }, f)
    shutil.rmtree(dirs["work"], ignore_errors=True)
    print(M.payload(failed == 0, out.attempted, failed, values, defs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
