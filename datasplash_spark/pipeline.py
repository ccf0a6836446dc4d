"""Pipeline shell: session construction + named-op plumbing.

Reference parity: ``make-pipeline`` / ``run-pipeline``
(/root/reference/src/clj/datasplash/core.clj:1071-1133) build a Beam
pipeline from CLI-ish options and run it on a runner. In the Spark
rebuild the SparkSession *is* the pipeline: transformations are lazy
(logical plan) and actions/stream-starts play the role of
``run-pipeline``. ``apply-transform`` naming (core.clj:498-519)
becomes a thin options dict + ``DataFrame.alias``.
"""

from __future__ import annotations

import os
import stat
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables the driver test corpus ships (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@dataclass
class PipelineOptions:
    """Analog of the reference's ``defoptions`` typed-options interface
    (/root/reference/src/clj/datasplash/options.clj:23-44), minus the
    Beam runner knobs that have no Spark meaning.
    """

    app_name: str = "datasplash-spark"
    master: str | None = None  # default: local[$SPARK_GRAFT_CPUS]
    shuffle_partitions: int | None = None
    extra_conf: dict[str, Any] = field(default_factory=dict)


def _camel(s: str) -> str:
    """kebab/snake → camelCase (the reference normalizes every arg
    key this way, core.clj:1053-1056)."""
    parts = s.replace("_", "-").split("-")
    return parts[0] + "".join(p.title() for p in parts[1:])


def job_name_template(tpl: str, app_name: str, user: str | None = None) -> str:
    """``jobNameTemplate`` interpolation (core.clj:1037-1046):
    ``%U`` = user, ``%A`` = app name, ``%T`` = timestamp; lower-cased,
    non [-a-z0-9] chars become ``0``."""
    import getpass
    import re
    import time

    out = (
        tpl.replace("%U", user or getpass.getuser() or "nemo")
        .replace("%A", app_name)
        .replace("%T", time.strftime("%Y%m%d%H%M%S"))
        .lower()
    )
    return re.sub(r"[^-a-z0-9]", "0", out)


def args_to_conf(
    str_args: list[str] | None = None, **kw_args
) -> dict[str, object]:
    """``args->cli-args`` analog (core.clj:1048-1069): merge
    ``--key=value`` CLI strings and keyword args into one normalized
    (camelCase-keyed) dict; CLI strings win. List values stay lists
    (the reference repeats the flag). ``jobNameTemplate`` interpolates
    into ``jobName`` (core.clj:1058-1066)."""
    merged: dict[str, object] = {}
    for k, v in kw_args.items():
        merged[_camel(k)] = v
    for kv in str_args or []:
        k, _, v = kv.partition("=")
        merged[_camel(k.removeprefix("--"))] = v if v != "" else None
    merged.setdefault("appName", "unknown")
    tpl = merged.pop("jobNameTemplate", None)
    if tpl:
        merged["jobName"] = job_name_template(str(tpl), str(merged["appName"]))
    return merged


def options_from_args(
    str_args: list[str] | None = None, **kw_args
) -> PipelineOptions:
    """``make-pipeline`` options parsing: recognized keys land on
    :class:`PipelineOptions`; everything else flows into
    ``extra_conf`` as ``spark.*`` (or verbatim) settings."""
    conf = args_to_conf(str_args, **kw_args)
    opts = PipelineOptions()
    opts.app_name = str(conf.pop("appName"))
    if "jobName" in conf:
        opts.app_name = str(conf.pop("jobName"))
    if "master" in conf:
        opts.master = str(conf.pop("master"))
    if "shufflePartitions" in conf:
        raw = conf.pop("shufflePartitions")
        try:
            opts.shuffle_partitions = int(raw)  # type: ignore[arg-type]
        except (TypeError, ValueError) as e:
            raise ValueError(f"--shuffle-partitions: not an int: {raw!r}") from e
    opts.extra_conf = dict(conf)
    return opts


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def make_session(options: PipelineOptions | None = None) -> SparkSession:
    """``make-pipeline`` analog (core.clj:1094-1108): build a session
    with scale-aware defaults (AQE on, Arrow on, UTC, shuffle
    partitions sized to the parallelism, not Spark's default 200).
    """
    opts = options or PipelineOptions()
    cpus = default_cpus()
    master = opts.master or f"local[{cpus}]"
    shuffle = opts.shuffle_partitions or (cpus if master.startswith("local") else 200)
    # 12g (was 48g): the pinned+pretouched heap below must be faulted
    # in at startup, and 48g of lazily-backed sandbox pages cost >3 min
    # to touch while the whole bench corpus is ~20 MB of parquet — the
    # bench/test working set peaks far below 12g (measured: identical
    # walls at 12g, no spill). Production clusters size this per
    # executor as usual; the env var is the knob either way.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")
    builder = (
        SparkSession.builder.master(master)
        .appName(opts.app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", mem)
        # Pin the heap and fault it in ONCE at startup (guide §5, r14
        # measurement): with the default growable heap, every G1 cycle
        # uncommits regions and the next heavy stage re-faults them —
        # on this sandbox's lazily-backed VM memory a first-touch page
        # fault is served in USERSPACE, and the fault storm was
        # measured charging up to 1,491 s of kernel time to a single
        # 60 s query (dedup_cross_corpus: 14 s → 1,491 s jvm_sys
        # across identical reps; with Xms=Xmx+AlwaysPreTouch the same
        # reps run 0.76-1.26 s wall with 0.3-0.9 s jvm_sys). The
        # pretouch moves that cost to session startup, OUTSIDE every
        # timed region, and makes heavy-stage walls reproducible.
        # Production analog: size executors with Xms=Xmx (standard
        # long-running-service JVM practice); parameterized by
        # $SPARK_GRAFT_DRIVER_MEM like the heap itself.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch",
        )
        # Align whole-stage-codegen's fallback with the JVM's actual
        # JIT limit (guide §1.2 step 3, r14 measurement): HotSpot
        # refuses to JIT-compile any method over 8000 bytecode bytes
        # (-XX:+DontCompileHugeMethods, on by default), so a fused
        # processNext() above that size runs in the BYTECODE
        # INTERPRETER forever. Spark's default hugeMethodLimit (65535)
        # happily keeps such stages in codegen; 8000 makes Spark fall
        # back to per-operator codegen exactly when the JVM would stop
        # compiling — measured on the intra-cell pair stage (a 64-term
        # unrolled dot inside a join+window stage): 5.0 s -> 0.62 s
        # executor CPU, wall 5.4 -> 0.93 s, identical results. Scale-
        # independent: the limit tracks the JVM, not the data.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
    )
    for k, v in opts.extra_conf.items():
        builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: (applicationId, content key) -> resolved parquet relation of a
#: table or ANN store. METADATA only (file listing + schema, never
#: rows): every action still scans the files. Reusing the relation
#: skips DataSource resolution and the file-index listing that each
#: ``spark.read.parquet`` call re-runs (~20 ms per table load, the
#: dominant fixed cost of a store probe). Keyed by applicationId
#: because a DataFrame dies with its context; cleared whole when it
#: holds more than 64 entries.
_RELATIONS: dict = {}


def _content_key(path: str) -> tuple:
    """``(path, ((relpath, size, mtime_ns), ...))`` over every file at
    or under ``path``, walked recursively, so a rewrite, an append or
    an in-place overwrite anywhere in a partition tree changes it. A
    single file costs one ``os.stat``. Raises ``OSError`` for a path
    ``os`` cannot stat or list (remote, vanished mid-walk)."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (path, (("", st.st_size, st.st_mtime_ns),))
    files = []
    todo = [("", path)]
    while todo:
        rel, d = todo.pop()
        with os.scandir(d) as it:
            for e in it:
                if e.is_dir():
                    todo.append((rel + e.name + "/", e.path))
                else:
                    f = e.stat()
                    files.append((rel + e.name, f.st_size, f.st_mtime_ns))
    return (path, tuple(sorted(files)))


def _read_relation(spark: SparkSession, path: str, normalize=None) -> DataFrame:
    """``spark.read.parquet(path)``, passed through ``normalize`` if
    given, memoized in ``_RELATIONS`` per content key: an unchanged
    path returns the identical DataFrame. A path ``os`` cannot stat is
    read uncached."""
    try:
        key = (spark.sparkContext.applicationId, _content_key(path))
    except OSError:
        key = None
    df = _RELATIONS.get(key)
    if df is None:
        df = spark.read.parquet(path)
        if normalize is not None:
            df = normalize(df)
        if key is not None:
            if len(_RELATIONS) > 64:
                _RELATIONS.clear()
            _RELATIONS[key] = df
    return df


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # NTZ→LTZ reinterprets the wall-clock in the session zone;
        # value-preserving ONLY under UTC. make_session pins UTC, but
        # a foreign session (e.g. the external driver's) might not —
        # pin it here so event times can't silently shift.
        df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table through the relation cache
    (``_read_relation``): a repeat call on unchanged files returns the
    identical DataFrame.

    ``events.parquet``'s ``ts`` column has shipped with two parquet
    physical types across driver testdata generations: TIMESTAMP(NANOS)
    (which Spark's vectorized reader rejects — read as raw nanos via
    ``nanosAsLong`` and convert) and TIMESTAMP(MICROS, NTZ) (which
    Spark reads as TIMESTAMP_NTZ — a type that refuses numeric casts
    and differs from what window/epoch arithmetic expects). Both are
    normalized to session-zone TimestampType; the session runs UTC
    (`make_session`), so NTZ→LTZ changes no values. The normalized
    frame is what the cache holds.

    NOTE: ``nanosAsLong`` stays set on the session afterwards — a NANOS
    events scan consults it at *execution* time, so it cannot be
    restored eagerly. Session-wide effect: other TIMESTAMP(NANOS)
    parquet columns will read as bigint instead of erroring. No other
    timestamp precision is affected.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return _read_relation(spark, path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _read_relation(spark, path, _normalize_events_ts)


def spread_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Scale-adaptive pre-spread for per-row-HEAVY pipelines
    (optimization guide §2.5 input skew / §6 input splits): a scan of
    few files with few row groups yields fewer partitions than the
    session has cores, and because parquet only splits at row-group
    boundaries, ``maxPartitionBytes`` cannot widen it — so the
    expensive map side (shingle/minhash/codec/vector kernels) runs on
    a handful of tasks while the rest of the machine idles (measured
    at sf0.1: the whole shingle→md5→partial-agg map side of every
    dedup query ran as ONE 2-3 s task on the corpus' single-row-group
    parquet).

    When (and only when) the scan is narrower than
    ``defaultParallelism``, repartition to it — by ``keys`` when the
    pipeline's next shuffle is keyed (the exchange then *replaces*
    the downstream one: hash-partitioned-by-key input satisfies a
    later ``groupBy(key)`` distribution at equal partition counts),
    round-robin otherwise. On production multi-file inputs the scan
    is already at least core-wide and this is a provable no-op (no
    Exchange enters the plan). The cost when it fires is one exchange
    of the raw rows — exactly the rows the heavy stage must read
    anyway — and the decision is made from the actual scan partition
    count, not a constant, so it holds at any core count.
    """
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p, *keys) if keys else df.repartition(p)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver testdata table present under ``sf_dir``."""
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load + register each table as a temp view (mirrors the driver's
    DuckDB-side view registration so ``spark.sql`` text matches)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
